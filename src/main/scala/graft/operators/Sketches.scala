package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Sketch-based approximate aggregates beyond the built-in HLL++
  * (`approx_count_distinct`, spec'd in OperatorSpec): mergeable
  * fixed-size summaries that replace unbounded-key aggregations at
  * 100 TB. First member: a Count-Min sketch over corpus tokens with an
  * exact-count error profile — the estimator-quality eval that decides
  * whether a downstream consumer (stopword lists, df caps, mixture
  * weights) can run on the sketch instead of the full token aggregate.
  */
object Sketches {

  /** Count-Min sketch heavy hitters (Cormode & Muthukrishnan 2005):
    * `d` hash rows × `w` counters; every token occurrence increments
    * one counter per row; a token's estimate is the MIN of its `d`
    * counters — always ≥ the true count, over by at most the collision
    * mass in its least-loaded bucket. The report joins the estimate
    * against the exact count for the true top-`topN` tokens, emitting
    * the overcount each one carries.
    *
    * Scale shape: the sketch itself is the point — `d·w` counters
    * (4×1024 here) regardless of corpus size, built by ONE
    * map-side-combined aggregate over (row, bucket) keys whose key
    * universe is ≤ d·w, so the shuffle is constant-size no matter how
    * many tokens stream through, and sketches from disjoint shards
    * merge by cell-wise addition. The exact side (a full token
    * aggregate) exists for the ERROR PROFILE only; a production run at
    * 100 TB would keep per-partition local top-k candidates and serve
    * estimates straight from the sketch.
    *
    * Determinism/oracle: the `d` row buckets are disjoint
    * `log2(w)`-bit fields of ONE [[Dedup.md5Long64]] digest per token
    * (the DuckDB `md5_number_upper` value) — the same
    * one-digest-many-chunks move as the Bloom prefilter
    * ([[Dedup.bloomDecontaminate]]), trading the textbook's fully
    * independent hash family for 1 digest instead of `d` per
    * occurrence (measured 2× on this corpus: the md5 byte-chain
    * dominates the build). Chunks of a cryptographic digest remain
    * pairwise-independent in practice; `d·log2(w) ≤ 64` bounds the
    * configuration. The whole sketch — buckets, collisions,
    * estimates — replays bit-for-bit in SQL.
    */
  def cmsHeavyHitters(spark: SparkSession, dir: String, d: Int = 4,
                      w: Int = 1024, topN: Int = 20): DataFrame = {
    require((w & (w - 1)) == 0, "w must be a power of two (bucket = hash & (w-1))")
    val bits = java.lang.Long.numberOfTrailingZeros(w.toLong)
    require(d * bits <= 64, s"d*log2(w) must fit one 64-bit digest: $d*$bits")
    val toks = graft.sources.ScratchCache.materialize(
      Tables.documents(spark, dir)
        .select(explode(split(col("text"), " ")).as("tok")))
    // one digest per token, projected before each explode: a
    // generator gets no subexpression elimination, so the d row
    // chunks of an inline digest would each recompute it
    def hashed(df: DataFrame): DataFrame =
      df.withColumn("h", Dedup.md5Long64(col("tok")))
    def cellKeys: Column = explode(array((0 until d).map(r =>
      struct(lit(r).as("r"),
        shiftright(col("h"), bits * r).bitwiseAND(lit((w - 1).toLong)).as("b"))): _*)).as("rb")
    // one constant-size agg: d bit-field chunks per occurrence, <= d*w
    // keys out
    val cells = hashed(toks)
      .select(cellKeys)
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("tok")).limit(topN)
    // ONE broadcast join on (r, b) instead of d chained broadcast
    // joins (guide §2.4 — the old fold built d separate broadcast
    // relations, one build job each): each top token explodes to its d
    // (row, bucket) keys, matches exactly one counter per row (its own
    // occurrences guarantee the cell exists), and est = min over the d
    // matched counters — identical to least(c0..cd-1) on the old wide
    // row.
    hashed(exact)
      .select(col("tok"), col("exact"), cellKeys)
      .select(col("tok"), col("exact"), col("rb.r").as("r"), col("rb.b").as("b"))
      .join(broadcast(cells), Seq("r", "b"))
      .groupBy(col("tok"), col("exact"))
      .agg(min(col("cnt")).as("est"))
      .withColumn("overcount", col("est") - col("exact"))
      .orderBy(col("exact").desc, col("tok"))
  }
}
