package perfbench

import org.apache.spark.sql.Row

/** The collected corpus the checker replays every search against. */
final class Corpus(val ids: Array[Long], val vecs: Array[Array[Float]], val labels: Array[Int]) {
  val norms: Array[Double] = vecs.map(v => math.sqrt(Check.dot(v, v)))
  val pos: Map[Long, Int] = ids.iterator.zipWithIndex.toMap
  def vec(id: Long): Array[Float] = vecs(pos(id))
}

/** Driver-side output checker: brute-force cosine with graft's scoring
  * conventions (left-to-right double dot over float elements,
  * score = round(dot / (‖e‖·‖q‖), 5) half-up, order (score DESC, id)),
  * so an exact search must match row for row. Every method returns
  * `None` on success or the mismatch as a message.
  */
object Check {
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Spark's `round(x, 5)` on a double. */
  def round5(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble

  def cosine(c: Corpus, i: Int, q: Array[Float], qn: Double): Double =
    round5(dot(c.vecs(i), q) / (c.norms(i) * qn))

  /** Exact top-k over the rows `keep` admits: (id, score) in (score
    * DESC, id) order. */
  def topK(c: Corpus, q: Array[Float], k: Int, keep: Int => Boolean): Seq[(Long, Double)] = {
    val qn = math.sqrt(dot(q, q))
    val ord = Ordering.by[(Long, Double), (Double, Long)](p => (-p._2, p._1))
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord)
    var i = 0
    while (i < c.ids.length) {
      if (keep(i)) {
        heap += ((c.ids(i), cosine(c, i, q, qn)))
        if (heap.size > k) heap.dequeue()
      }
      i += 1
    }
    heap.toSeq.sorted(ord)
  }

  private def pairs(rows: Array[Row], id: Int, score: Int): Seq[(Long, Double)] =
    rows.toSeq.map(r => (r.getLong(id), r.getDouble(score)))

  private def same(what: String, got: Seq[(Long, Double)],
                   want: Seq[(Long, Double)]): Option[String] =
    if (got == want) None
    else Some(s"$what: got ${got.take(4).mkString(",")} want ${want.take(4).mkString(",")}")

  /** Exact searches (text, vec, filtered, item): rows (vec_id, score). */
  def exact(what: String, rows: Array[Row], c: Corpus, q: Array[Float], k: Int,
            keep: Int => Boolean): Option[String] =
    same(what, pairs(rows, 0, 1), topK(c, q, k, keep))

  /** simMatrix: every (a, b) pair of the ids, ordered (a_id, b_id). */
  def compare(rows: Array[Row], c: Corpus, ids: Seq[Long]): Option[String] = {
    val want = for (a <- ids.sorted; b <- ids.sorted) yield {
      val (va, vb) = (c.vec(a), c.vec(b))
      ((a, b), round5(dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))))
    }
    val got = rows.toSeq.map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    if (got == want) None else Some(s"compare: got ${got.take(3)} want ${want.take(3)}")
  }

  /** Hybrid: k rows, blend = α·vs + (1-α)·ts within 1e-5, vs equal to
    * the brute-force cosine, scores non-increasing. */
  def hybrid(rows: Array[Row], c: Corpus, q: Array[Float], alpha: Double,
             k: Int): Option[String] = {
    val qn = math.sqrt(dot(q, q))
    if (rows.length != k) return Some(s"hybrid: ${rows.length} rows, want $k")
    rows.iterator.zipWithIndex.collectFirst {
      case (r, i) if math.abs(r.getDouble(1) - (alpha * r.getDouble(2) +
          (1 - alpha) * r.getDouble(3))) > 1e-5 + 1e-9 =>
        s"hybrid: row $i blend ${r.getDouble(1)} != a*${r.getDouble(2)} + (1-a)*${r.getDouble(3)}"
      case (r, i) if c.pos.get(r.getLong(0)).forall(p => cosine(c, p, q, qn) != r.getDouble(2)) =>
        s"hybrid: row $i doc ${r.getLong(0)} vector_score ${r.getDouble(2)} is not its cosine"
      case (r, i) if i > 0 && r.getDouble(1) > rows(i - 1).getDouble(1) =>
        s"hybrid: row $i out of order"
    }
  }

  /** IVF rows (n_id, cell, score, rk): every score the brute-force
    * cosine of its id, ranks dense 1..n. Returns (error, ids). */
  def ivf(rows: Array[Row], c: Corpus, q: Array[Float], k: Int): (Option[String], Seq[Long]) = {
    val qn = math.sqrt(dot(q, q))
    val ids = rows.toSeq.map(_.getLong(0))
    val bad = rows.iterator.zipWithIndex.collectFirst {
      case (r, i) if r.getLong(3) != i + 1 => s"ivf: rank ${r.getLong(3)} at row $i"
      case (r, _) if c.pos.get(r.getLong(0)).forall(p => cosine(c, p, q, qn) != r.getDouble(2)) =>
        s"ivf: id ${r.getLong(0)} score ${r.getDouble(2)} is not its cosine"
    }.orElse(if (rows.length > k || rows.isEmpty) Some(s"ivf: ${rows.length} rows") else None)
    (bad, ids)
  }

  def recall(got: Seq[Long], truth: Seq[(Long, Double)]): Double =
    if (truth.isEmpty) 1.0 else got.toSet.intersect(truth.map(_._1).toSet).size.toDouble / truth.size
}
