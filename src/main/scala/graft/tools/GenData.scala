package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator for bench-only datasets: tiles the driver's
  * deterministic testdata (TESTDATA.md) `copies`× with key shifting
  * and content perturbation, so shuffle/join growth can be MEASURED at
  * 10× and 100× instead of asserted from plans. Bench-only: the
  * DuckDB correctness gate still runs exclusively against the
  * driver's own sf0.01 tables.
  *
  * Perturbations keep each copy's INTERNAL structure identical to the
  * source while decorrelating copies from each other — the growth
  * profile a real 10× corpus would have:
  *   - ids shift by copy × (max+1) per key family; `documents` and
  *     `embeddings` share one offset so doc_id = vec_id joins survive;
  *   - document tokens get a per-copy suffix (`the` → `the_c3`), so
  *     shingle/term statistics replicate per copy without cross-copy
  *     near-duplicate pairs (10 tiled verbatim copies would grow the
  *     dedup pair count 100×, benchmarking the DATA not the engine);
  *   - embeddings rotate by copy index — a norm- and
  *     geometry-preserving permutation that decorrelates copies;
  *   - events shift ids only: `props.$.k` item refs stay in copy 0's
  *     id range, which the recommendation path reads as a user base
  *     10× wider over the same catalog slice.
  *
  * A second mode, `zipf`, tiles the same volume but SKEWS the key
  * distributions the way organic corpora do (uniform tiling is the
  * best case for every hash shuffle — a skew bench must be asked for
  * explicitly):
  *   - events: copy c compresses user_id into the first 1/(c+1) of the
  *     id space, so low ids accumulate events from every copy — a
  *     harmonic (Zipf-tailed) events-per-user profile with the same
  *     total volume;
  *   - orders/lineitem: o_custkey and l_suppkey compress the same way
  *     (hot customers, hot suppliers) while the o_orderkey/l_orderkey
  *     PK-FK tiling stays intact;
  *   - embeddings: copy c routes vec_id % 10 < c rows to label 0 — the
  *     hot cluster label every label-blocked path must survive;
  *   - documents: only alternating 8-token blocks get the per-copy
  *     suffix, so the unsuffixed blocks repeat VERBATIM in every copy —
  *     hot cross-copy shingles and winnow fingerprints (exactly the
  *     boilerplate profile the df-occupancy caps exist for).
  *
  * Usage: GenData <srcDir> <dstDir> <copies> [uniform|zipf]
  */
object GenData {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args.length <= 5,
      "usage: GenData <srcDir> <dstDir> <copies> [uniform|zipf] [tables=a,b,...]")
    val (src, dst, copies) = (args(0), args(1), args(2).toInt)
    val extra = args.drop(3)
    val mode = extra.find(a => a == "uniform" || a == "zipf").getOrElse("uniform")
    // tables=documents,embeddings restricts generation to the named
    // fact tables (dims always pass through) — the big-multiplier ANN
    // scale points need millions of VECTORS, not 10⁸ lineitem rows;
    // tiling the whole star there would spend most of the wall clock
    // on tables the measured subset never reads. Chain two runs
    // (e.g. ×100 then ×5) for multipliers past the per-run cap.
    val tables: Option[Set[String]] =
      extra.find(_.startsWith("tables=")).map(_.stripPrefix("tables=").split(",").toSet)
    require(copies >= 1 && copies <= 128, s"copies must be in [1, 128]: $copies")
    require(Set("uniform", "zipf").contains(mode), s"unknown mode $mode")
    val spark = graft.GraftSession()
    try generate(spark, src, dst, copies, mode == "zipf", tables) finally spark.stop()
  }

  def generate(spark: SparkSession, src: String, dst: String, copies: Int,
               skew: Boolean, tables: Option[Set[String]]): Unit = {
    def want(name: String): Boolean = tables.forall(_.contains(name))
    // a tables= filter must not leave stale fact tables from a PRIOR
    // run sitting in dst — a later reader would silently mix scales.
    // Refuse rather than delete: the caller decides what dies. This
    // deliberately also refuses same-scale INCREMENTAL population of
    // one dst across runs with different filters (generate documents,
    // then tables=embeddings into the same dir): the tool cannot read
    // a scale marker off parquet to tell same-scale from mixed-scale,
    // so a dst is single-shot per filter — widen the filter to emit
    // the full set in one run instead.
    val factTables = Seq("customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings", "events")
    if (tables.isDefined) {
      val stale = factTables.filterNot(want).filter(n =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dst/$n.parquet")))
      require(stale.isEmpty,
        s"dst $dst already holds fact tables outside the tables= filter " +
          s"(${stale.mkString(", ")}) — a mixed-scale dir would silently " +
          s"corrupt benchmarks; delete them or widen the filter")
    }
    def rd(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    // by-name: a filtered-out table's tiling plan (and the key-span
    // scans its construction triggers) must never build at all
    def wr(df: => DataFrame, name: String, files: Int): Unit =
      if (want(name)) df.coalesce(files).write.mode("overwrite").parquet(s"$dst/$name.parquet")
    def maxOf(df: DataFrame, c: String): Long = df.agg(max(col(c))).head().getLong(0) + 1L

    // dimension tables pass through untiled (at any real scale these
    // stay broadcast-sized); always written so the dst dir serves any
    // dim-joining query regardless of the fact-table filter
    rd("region").coalesce(1).write.mode("overwrite").parquet(s"$dst/region.parquet")
    rd("nation").coalesce(1).write.mode("overwrite").parquet(s"$dst/nation.parquet")

    lazy val customer = rd("customer")
    lazy val orders = rd("orders")
    lazy val part = rd("part")
    lazy val supplier = rd("supplier")
    lazy val documents = rd("documents")
    lazy val embeddings = rd("embeddings")
    lazy val events = rd("events")
    lazy val kCust = maxOf(customer, "c_custkey")
    lazy val kOrd = maxOf(orders, "o_orderkey")
    lazy val kPart = maxOf(part, "p_partkey")
    lazy val kSupp = maxOf(supplier, "s_suppkey")
    // one id space for doc_id = vec_id joins. Only scan the tables the
    // run actually tiles: a CHAINED run (tables=embeddings over a dst
    // dir from a prior tables=embeddings run) has no documents.parquet
    // to read, and forcing one would break exactly the big-multiplier
    // chains the tables= filter exists for. When both are tiled they
    // share the max; when one is filtered out its absent twin cannot
    // create id collisions in this dst anyway.
    lazy val kDoc = (want("documents"), want("embeddings")) match {
      case (true, true)  => math.max(maxOf(documents, "doc_id"), maxOf(embeddings, "vec_id"))
      case (true, false) => maxOf(documents, "doc_id")
      case _             => maxOf(embeddings, "vec_id")
    }
    lazy val kEvent = maxOf(events, "event_id")
    lazy val kUser = maxOf(events, "user_id")
    lazy val dim = embeddings.select(size(col("embedding"))).head().getInt(0)

    def tiled(df: DataFrame, perCopy: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(c => perCopy(df, c)).reduce(_ unionByName _)

    def shift(df: DataFrame, c: Int, keys: (String, Long)*): DataFrame =
      keys.foldLeft(df) { case (d, (k, span)) =>
        d.withColumn(k, (col(k) + lit(c * span)).cast("long"))
      }

    // zipf mode: compress a key into the first 1/(c+1) of its id space —
    // copy 0 is untouched, later copies pile onto ever-smaller prefixes,
    // so key i's total weight ≈ Σ_c [i < span/(c+1)] (harmonic tail)
    def compress(d: DataFrame, c: Int, key: String, span: Long): DataFrame =
      if (!skew || c == 0) d
      else d.withColumn(key, (col(key) % lit(math.max(1L, span / (c + 1)))).cast("long"))

    wr(tiled(customer, (d, c) => shift(d, c, "c_custkey" -> kCust)), "customer", copies)
    wr(tiled(supplier, (d, c) => shift(d, c, "s_suppkey" -> kSupp)), "supplier", copies)
    wr(tiled(part, (d, c) => shift(d, c, "p_partkey" -> kPart)), "part", copies)
    wr(tiled(orders, (d, c) =>
      if (skew) compress(shift(d, c, "o_orderkey" -> kOrd), c, "o_custkey", kCust)
      else shift(d, c, "o_orderkey" -> kOrd, "o_custkey" -> kCust)), "orders", copies)
    wr(tiled(rd("lineitem"), (d, c) =>
      if (skew) compress(shift(d, c, "l_orderkey" -> kOrd, "l_partkey" -> kPart),
        c, "l_suppkey", kSupp)
      else shift(d, c, "l_orderkey" -> kOrd, "l_partkey" -> kPart, "l_suppkey" -> kSupp)),
      "lineitem", copies)

    wr(tiled(documents, (d, c) => {
      val suffixed =
        if (c == 0) d
        else if (skew)
          // suffix only alternating 8-token blocks: the unsuffixed
          // blocks repeat verbatim across copies → hot shingles
          d.withColumn("text",
            array_join(expr(
              s"transform(split(text, ' '), (t, i) -> CASE WHEN (i div 8) % 2 = 0 THEN t ELSE concat(t, '_c$c') END)"),
              " "))
        else d.withColumn("text",
          array_join(transform(split(col("text"), " "), t => concat(t, lit(s"_c$c"))), " "))
      shift(suffixed, c, "doc_id" -> kDoc)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }), "documents", copies)

    wr(tiled(embeddings, (d, c) => {
      // rotation has only `dim` distinct values — copies past dim
      // additionally flip signs (cosine −1 to their rotation twin, so
      // still no cross-copy near-dup pairs at positive thresholds)
      val rot = c % dim
      val rotated =
        if (rot == 0) d
        else d.withColumn("embedding",
          concat(slice(col("embedding"), rot + 1, dim - rot), slice(col("embedding"), 1, rot)))
      val signed =
        if (c / dim % 2 == 0) rotated
        else rotated.withColumn("embedding",
          expr("cast(transform(embedding, x -> -x) as array<float>)"))
      val labeled =
        if (skew && c > 0)
          // hot cluster label: copy c routes vec_id % 10 < c to label 0
          signed.withColumn("label",
            when(col("vec_id") % 10 < c, lit(0)).otherwise(col("label")).cast("int"))
        else signed
      shift(labeled, c, "vec_id" -> kDoc)
    }), "embeddings", copies)

    wr(tiled(events, (d, c) =>
      if (skew) compress(shift(d, c, "event_id" -> kEvent), c, "user_id", kUser)
      else shift(d, c, "event_id" -> kEvent, "user_id" -> kUser)), "events", copies)
  }
}
