package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NGrams
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalysis

/** The n-gram kernel and the row-local top count against their
  * driver-side definitions: `sliding(n).map(_.mkString(" "))` for
  * [[NGrams]] on the interpreted and the generated-code path, and the
  * largest multiplicity for [[TextAnalysis.topRun]].
  */
class NGramsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Token arrays as `split(text, ' ')` yields them, empty tokens
    * included (double, leading or trailing spaces), from a small
    * vocabulary so windows repeat; sizes straddle every n tested.
    */
  private val tokens: Gen[Seq[String]] = for {
    size <- Gen.oneOf(Gen.choose(0, 12), Gen.choose(0, 40))
    toks <- Gen.listOfN(size, Gen.frequency(4 -> Gen.oneOf("a", "b", "cd", "é"), 1 -> Gen.const("")))
  } yield toks

  private val ns = Seq(1, 2, 3, 5, 10)

  private def check(prop: Prop): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(200).withInitialSeed(7L), prop)
    assert(res.passed, res.status.toString)
  }

  private def driverGrams(toks: Seq[String], n: Int): Seq[String] =
    if (toks.size < n) Seq.empty else toks.sliding(n).map(_.mkString(" ")).toSeq

  private val input = BoundReference(0, ArrayType(StringType, containsNull = true), nullable = true)

  private def row(toks: Seq[String]): InternalRow =
    InternalRow(if (toks == null) null else new GenericArrayData(toks.map(UTF8String.fromString)))

  private def strings(a: Any): Seq[String] = {
    val d = a.asInstanceOf[ArrayData]
    (0 until d.numElements()).map(i => d.getUTF8String(i).toString)
  }

  private def interpreted(n: Int, toks: Seq[String]): Seq[String] =
    strings(NGrams(input, n).eval(row(toks)))

  private def generated(n: Int, toks: Seq[String]): Seq[String] = {
    val proj = GenerateMutableProjection.generate(Seq(NGrams(input, n)))
    strings(proj(row(toks)).getArray(0))
  }

  test("NGrams equals sliding(n) joined by one space, interpreted and generated") {
    check(Prop.forAll(tokens, Gen.oneOf(ns)) { (toks, n) =>
      val want = driverGrams(toks, n)
      interpreted(n, toks) == want && generated(n, toks) == want
    })
    // the edges, whatever the generator drew: size = n, size < n, empty
    for (n <- ns; size <- Seq(0, n - 1, n)) {
      val toks = Seq.tabulate(size)(i => if (i % 3 == 1) "" else s"t$i")
      assert(interpreted(n, toks) == driverGrams(toks, n), s"interpreted n=$n size=$size")
      assert(generated(n, toks) == driverGrams(toks, n), s"generated n=$n size=$size")
    }
  }

  test("NGrams of a null array is an empty array on both paths") {
    for (n <- ns) {
      assert(interpreted(n, null).isEmpty)
      assert(generated(n, null).isEmpty)
    }
  }

  test("NGrams inside a query matches split + sliding on the driver") {
    import spark.implicits._
    val texts = Seq("a b a b a", " lead", "trail ", "dbl  space x", "", "one")
    val got = texts.toDF("text")
      .select(col("text"), TextAnalysis.ngrams(split(col("text"), " "), 2).as("g"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    texts.foreach(t => assert(got(t) == driverGrams(t.split(" ", -1).toSeq, 2), t))
  }

  test("topRun is the largest multiplicity of the array, 0 when empty") {
    import spark.implicits._
    check(Prop.forAll(tokens) { toks =>
      val want = if (toks.isEmpty) 0L else toks.groupBy(identity).values.map(_.size).max.toLong
      Seq(toks).toDF("g").select(TextAnalysis.topRun(col("g"))).head().getLong(0) == want
    })
  }
}
