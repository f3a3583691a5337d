package graft

import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.scalatest.funsuite.AnyFunSuite

/** Warm-serving behavior ([[Tables.warm]]): after warming, repeat
  * queries plan in-memory leaves — zero file relations — and return
  * the same results as cold runs (the reference's st.cache_resource
  * interactivity story, app.py:63-102). The probe inspects the
  * OPTIMIZED LOGICAL plan (file leaves appear as LogicalRelation,
  * cached ones as InMemoryRelation) because AQE wraps the physical
  * plan until execution.
  */
class ServingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def fileScans(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case s: LogicalRelation => s }.size

  test("warmed tables serve repeat queries with zero file-scan leaves") {
    val cold = SparkEntry.queries("vs_topk")(spark, TestSpark.sf).collect().map(_.toSeq).toSeq
    try {
      Tables.warm(spark, TestSpark.sf, Seq("embeddings", "events", "orders"))

      val q = SparkEntry.queries("vs_topk")(spark, TestSpark.sf)
      assert(fileScans(q) == 0, "warmed embeddings must plan no file scan")
      assert(q.collect().map(_.toSeq).toSeq == cold, "warm results must equal cold results")

      // derived-column path (events builds ts_ms on top of the cached frame)
      val ev = SparkEntry.queries("events_hourly")(spark, TestSpark.sf)
      assert(fileScans(ev) == 0, "warmed events must plan no file scan")
      assert(ev.collect().nonEmpty)

      // a warm repeat is at least not catastrophically slower than the
      // previous warm run of the same query (generous bound: host noise)
      def time[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
      }
      val (_, t1) = time(SparkEntry.queries("vs_topk")(spark, TestSpark.sf).count())
      val (_, t2) = time(SparkEntry.queries("vs_topk")(spark, TestSpark.sf).count())
      assert(t2 <= t1 * 3 + 0.5, s"warm repeat regressed: $t1 -> $t2")
    } finally Tables.cool(spark)
    // after cool, the file scan is back (registry actually drained)
    val q = SparkEntry.queries("vs_topk")(spark, TestSpark.sf)
    assert(fileScans(q) > 0)
  }

  test("warmed tables are re-pinned after spark.catalog.clearCache()") {
    val cold = SparkEntry.queries("vs_topk")(spark, TestSpark.sf).collect().map(_.toSeq).toSeq
    try {
      Tables.warm(spark, TestSpark.sf, Seq("embeddings", "events", "orders"))
      spark.catalog.clearCache()
      val q = SparkEntry.queries("vs_topk")(spark, TestSpark.sf)
      assert(fileScans(q) == 0, "a cleared warmed table must be re-pinned on its next read")
      assert(q.collect().map(_.toSeq).toSeq == cold, "re-pinned results must equal cold results")
    } finally Tables.cool(spark)
  }
}
