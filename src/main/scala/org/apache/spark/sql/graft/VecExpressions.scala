package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes,
  Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType,
  LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd dense dot product over array<float> / array<double>
  * columns — the hot inner loop of every similarity operator.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) are
  * CodegenFallback: interpreted per row, materializing a temp array per
  * evaluation. This expression fuses the loop into whole-stage codegen:
  * one pass over the unsafe array data, double accumulation, no
  * allocation. Semantics are bit-identical to
  * `aggregate(zip_with(a, b, (x, y) => x.cast(double) * y.cast(double)), 0.0, _ + _)`
  * (left-to-right double accumulation over exact float→double casts),
  * which is also what the DuckDB oracle computes via
  * `list_dot_product(a::DOUBLE[], b::DOUBLE[])` — including on length
  * mismatch, where zip_with's null padding nulls the aggregate: VecDot
  * returns null there too, so dimension bugs surface instead of
  * yielding a truncated dot product. A null ELEMENT nulls the
  * aggregate the same way, so VecDot returns null for it rather than
  * reading it as 0.0; the per-element check is only emitted for array
  * types that can hold nulls (`containsNull`).
  *
  * This file lives under org.apache.spark.sql only to reach the
  * `private[sql]` Column↔Expression bridge (ExpressionUtils); it uses
  * exclusively public Catalyst extension points otherwise.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // null on input null, on a null element AND on length mismatch (matches the HOF
  // semantics: zip_with pads the shorter array with nulls, so the
  // aggregate sum goes null — a dimension bug surfaces, never a
  // silently truncated dot product)
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(s"vec_dot expects array<float|double>, got $t")
  }

  private def mayHoldNull(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    val ln = mayHoldNull(left)
    val rn = mayHoldNull(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      if ((ln && x.isNullAt(i)) || (rn && y.isNullAt(i))) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: projection collapse can flatten several VecDots into
      // one codegen scope (e.g. two aggregate buffer expressions) —
      // fixed local names would redefine and Janino would reject,
      // silently dropping the stage to interpreted execution
      val n = ctx.freshName("vdN")
      val s = ctx.freshName("vdS")
      val i = ctx.freshName("vdI")
      val lGet = if (elemIsFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val rGet = if (elemIsFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      val nulls = Seq(a -> left, b -> right).collect {
        case (v, e) if mayHoldNull(e) => s"$v.isNullAt($i)"
      }
      val nullCheck =
        if (nulls.isEmpty) ""
        else s"if (${nulls.mkString(" || ")}) { ${ev.isNull} = true; break; }"
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $s += ($lGet) * ($rGet);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd word n-grams of a token array: the `size - n + 1`
  * windows of `n` consecutive tokens, in order, each joined by one
  * space — the one n-gram builder behind shingles, bigram counts and
  * the repetition statistics.
  *
  * The built-in formulation
  * `transform(sequence(0, size(toks) - n), i -> concat_ws(' ', slice(toks, i + 1, n)))`
  * is CodegenFallback (interpreted per row), and Catalyst shares no
  * subexpression into a lambda body, so an inlined `split(text, ' ')`
  * re-tokenizes the document once per gram. This expression is one
  * pass over the array inside whole-stage codegen. Semantics equal
  * the built-in's guarded by `size(toks) >= n`: an empty array when
  * the input has fewer than `n` tokens or is null, and a null
  * element is skipped inside its window the way `concat_ws` skips it.
  */
case class NGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"ngrams needs n >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "ngrams"
  override def sql: String = s"$prettyName(${child.sql}, $n)"
  override def toString: String = s"$prettyName($child, $n)"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"ngrams expects array<string>, got $t")
  }

  override def eval(input: InternalRow): Any = {
    val toks = child.eval(input).asInstanceOf[ArrayData]
    val m = if (toks == null) 0 else math.max(toks.numElements() - n + 1, 0)
    val sep = UTF8String.fromString(" ")
    val win = new Array[UTF8String](n)
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < n) { win(j) = toks.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(sep, win: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    // freshName: several NGrams (n = 3, 5, 10 over one token column)
    // share one codegen scope
    val m = ctx.freshName("ngM")
    val out = ctx.freshName("ngOut")
    val win = ctx.freshName("ngWin")
    val sep = ctx.freshName("ngSep")
    val i = ctx.freshName("ngI")
    val j = ctx.freshName("ngJ")
    val arr = classOf[GenericArrayData].getName
    val str = classOf[UTF8String].getName
    ev.copy(code = code"""
      |${c.code}
      |int $m = ${c.isNull} ? 0 : java.lang.Math.max(${c.value}.numElements() - $n + 1, 0);
      |Object[] $out = new Object[$m];
      |if ($m > 0) {
      |  $str $sep = $str.fromString(" ");
      |  $str[] $win = new $str[$n];
      |  for (int $i = 0; $i < $m; $i++) {
      |    for (int $j = 0; $j < $n; $j++) {
      |      $win[$j] = ${c.value}.getUTF8String($i + $j);
      |    }
      |    $out[$i] = $str.concatWs($sep, $win);
      |  }
      |}
      |ArrayData ${ev.value} = new $arr($out);
     """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `table(key)` for a [[Param]] bigint → double map whose keys are
  * sorted and distinct, found by binary search: O(log n) per row where
  * a map literal's `element_at` scans the keys, O(n). An absent or
  * null key reads null, as `element_at` does. Built through
  * `VecExpressions.longDoubleTable`, which sorts the keys; the table
  * prints as `param(map of n)`, so plan strings do not grow with it.
  */
case class SortedLookup(key: Expression, table: Param) extends BinaryExpression
    with ImplicitCastInputTypes {
  override def left: Expression = key
  override def right: Expression = table
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, table.dataType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lookup"

  override def nullSafeEval(k: Any, m: Any): Any = {
    val map = m.asInstanceOf[MapData]
    val i = SortedKeys.indexOf(map.keyArray(), k.asInstanceOf[Long])
    if (i < 0) null else map.valueArray().getDouble(i)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (k, m) => {
      val i = ctx.freshName("lookupAt")
      s"""
         |int $i = ${SortedKeys.getClass.getName.stripSuffix("$")}.indexOf($m.keyArray(), $k);
         |if ($i < 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $m.valueArray().getDouble($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
      : Expression = copy(key = newLeft, table = newRight.asInstanceOf[Param])
}

/** Binary search over ascending bigint keys, a static method that
  * generated code calls by name. */
object SortedKeys {
  /** The index of `k` in the ascending `keys`, or -1. */
  def indexOf(keys: ArrayData, k: Long): Int = {
    var lo = 0
    var hi = keys.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val v = keys.getLong(mid)
      if (v < k) lo = mid + 1
      else if (v > k) hi = mid - 1
      else return mid
    }
    -1
  }
}

object VecExpressions {
  /** Column-level dot product (see VecDot). */
  def vec_dot(a: Column, b: Column): Column =
    ExpressionUtils.column(VecDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-level word n-grams of a token array (see NGrams). */
  def ngrams(toks: Column, n: Int): Column =
    ExpressionUtils.column(NGrams(ExpressionUtils.expression(toks), n))

  /** Column-level per-request value (see Param), typed as `lit(v)` would be. */
  def param(v: Any): Column = {
    val l = Literal(v)
    ExpressionUtils.column(Param(l.value, l.dataType))
  }

  /** A bigint → double table (`keys` distinct) as a lookup column
    * function: the pairs are sorted once here into a [[Param]], and each
    * application is a [[SortedLookup]] of that one table, so a memo can
    * keep the function and every plan reuses the same value.
    */
  def longDoubleTable(keys: Array[Long], values: Array[Double]): Column => Column = {
    val order = keys.indices.sortBy(keys(_)).toArray
    val ks = order.map(keys(_))
    require(ks.indices.drop(1).forall(i => ks(i - 1) != ks(i)), "longDoubleTable keys must be distinct")
    val table = Param(
      new ArrayBasedMapData(UnsafeArrayData.fromPrimitiveArray(ks),
        UnsafeArrayData.fromPrimitiveArray(order.map(values(_)))),
      MapType(LongType, DoubleType, valueContainsNull = false))
    key => ExpressionUtils.column(SortedLookup(ExpressionUtils.expression(key), table))
  }
}
