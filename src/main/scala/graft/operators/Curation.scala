package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.r5

/** Corpus-curation utilities a large-scale training-data pipeline
  * needs around the reference's retrieval core: reproducible sampling,
  * collocation statistics, and the skew diagnostics that decide when a
  * key needs salting.
  */
object Curation {

  /** Deterministic hash-split sampling: a document is in the sample iff
    * the first 4 hex chars of md5(doc_id) sort below the threshold
    * ("0ccc" ≈ 5%). Membership is a pure function of the id — no RNG
    * state, no shuffle, reproducible across engines and runs, and
    * stable under corpus growth (adding documents never flips an
    * existing one) — the standard way to carve train/eval splits at
    * 100 TB. The predicate is a narrow map evaluated inside the scan.
    */
  def hashSample(spark: SparkSession, dir: String, thresholdHex: String = "0ccc"): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket", substring(md5(col("doc_id").cast("string")), 1, 4))
      .where(col("bucket") < lit(thresholdHex))
      .select(col("doc_id"), col("bucket"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** Sample-representativeness audit: chi-square goodness-of-fit of
    * [[hashSample]]'s 5% draw against the corpus's own per-source
    * proportions — the check that the "random" hash sample every eval
    * reads is not silently source-skewed (a hash function correlated
    * with id-assignment order would pass eyeballing and fail here).
    * Per source: corpus count, sample count, the proportional
    * expectation, and the chi-square contribution; the total statistic
    * and df repeat on every row (the markov-report convention) so one
    * row read against a chi-square table answers the question.
    *
    * Determinism: counts exact; expected = n_sample_total·N_s/N and
    * each contribution rounds to 5 before the total sums the ROUNDED
    * values; (x·x) instead of pow(x,2) (§4's pow-free rule). A source
    * with zero expectation (impossible while it has corpus docs and
    * the sample is nonempty) contributes 0 by guard on both engines.
    *
    * Scale shape: ONE conditional count aggregate over the narrow
    * (source, md5-prefix) scan; everything after runs on the
    * |sources|-row frame.
    */
  def sampleRepCheck(spark: SparkSession, dir: String,
                     thresholdHex: String = "0ccc"): DataFrame = {
    val per = graft.sources.ScratchCache.materialize(
      Tables.documents(spark, dir)
        .select(col("source"),
          (substring(md5(col("doc_id").cast("string")), 1, 4) < lit(thresholdHex))
            .as("in_sample"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_corpus"),
          count(when(col("in_sample"), 1)).as("n_sample")))
    val tot = per.agg(sum(col("n_corpus")).as("nc"), sum(col("n_sample")).as("ns"))
    val rows = graft.sources.ScratchCache.materialize(
      per.crossJoin(broadcast(tot))
        .withColumn("expected", round(col("ns") * col("n_corpus") / col("nc"), 5))
        .withColumn("contrib",
          when(col("expected") > 0,
            round((col("n_sample") - col("expected")) * (col("n_sample") - col("expected"))
              / col("expected"), 5))
            .otherwise(lit(0.0)))
        .select(col("source"), col("n_corpus"), col("n_sample"),
          col("expected"), col("contrib")))
    rows.crossJoin(broadcast(
      rows.agg(round(sum(col("contrib")), 5).as("chi2_total"),
        (count(lit(1)) - 1).as("df"))))
      .orderBy(col("source"))
  }

  /** Percentile-relative quality gate: instead of a fixed threshold
    * ([[curatePipeline]]'s 0.6), keep documents above the corpus's own
    * p-quantile of the quality score — the adaptive cut a pipeline
    * uses when absolute score scales drift between corpus versions.
    * Reports the per-source keep ratio against the one shared cutoff
    * (the number that exposes which sources a tightened gate would
    * silently delete).
    *
    * Determinism: per-row quality is an exact integer ratio; rows are
    * rounded to 5 decimals BEFORE the exact `percentile` aggregate
    * (Spark's `percentile` ≡ DuckDB `quantile_cont`, rank (n−1)·p
    * linear interpolation — the [[Analytics.userRfm]] parity), and the
    * cutoff is rounded to 5 again so the >= comparison sees identical
    * doubles on both engines.
    *
    * Scale shape: ONE scored scan — the (source, q) projection is
    * ScratchCache-materialized so the percentile aggregate and the
    * per-source count both read the cached two-column frame instead of
    * re-scanning and re-scoring documents; no window, no sort of the
    * corpus. Exact percentile holds per-value counts; above a
    * distinct-value cap the drop-in is `approx_percentile` (same
    * argument as [[lenDeciles]]).
    */
  def qualityPercentileGate(spark: SparkSession, dir: String,
                            p: Double = 0.25): DataFrame = {
    val scored = graft.sources.ScratchCache.materialize(
      TextAnalysis.withQualityCols(Tables.documents(spark, dir))
        .select(col("source"), round(col("quality"), 5).as("q")))
    val cut = scored.agg(expr(s"percentile(q, ${p}D)").as("c"))
      .select(round(col("c"), 5).as("cutoff"))
    scored.crossJoin(broadcast(cut))
      .groupBy(col("source"), col("cutoff"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("q") >= col("cutoff"), lit(1))).as("n_kept"))
      .withColumn("keep_ratio", round(col("n_kept") / col("n_docs"), 5))
      .orderBy(col("source"))
  }

  /** End-to-end curation pipeline — the composition a training-data
    * build actually runs, as ONE declarative plan Catalyst optimizes
    * whole (filters fuse into the scan, the dedup window is the only
    * shuffle): language filter → quality threshold ([[TextAnalysis
    * .quality]]'s exact-ratio score) → exact-dedup keep-first →
    * deterministic hash split. Output is the training-set manifest
    * (doc_id, n_tokens, quality, split).
    */
  def curatePipeline(spark: SparkSession, dir: String, lang: String = "en",
                     minQuality: Double = 0.6): DataFrame = {
    val scored = TextAnalysis.withQualityCols(
        Tables.documents(spark, dir).where(col("lang") === lang))
      .where(col("quality") >= minQuality)
    val w = Window.partitionBy(col("hash")).orderBy(col("doc_id"))
    scored
      .withColumn("hash", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("n_tok").cast("long").as("n_tokens"), col("quality"),
        when(substring(md5(col("doc_id").cast("string")), 1, 1) < "d", "train")
          .otherwise("eval").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Top-N bigram collocations: adjacent-token pairs with raw corpus
    * counts (unlike Dedup.shingles these are NOT distinct-per-doc —
    * frequency is the point). One explode + one count aggregation with
    * map-side combine; the top-N goes through TakeOrderedAndProject.
    */
  def bigramFreq(spark: SparkSession, dir: String, topN: Int = 50): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(split(col("text"), " ").as("toks"))
      .select(explode(TextAnalysis.ngrams(col("toks"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(topN)

  /** Stratified sampling: the first `perStratum` documents per language
    * in md5-of-id order — a deterministic "random" draw per stratum, so
    * every language is equally represented regardless of corpus skew
    * (the balanced-eval-set draw). The rank is per-stratum
    * (Window.partitionBy(lang)), so the sort is within strata — never a
    * global order — and Spark 4's WindowGroupLimit caps what each
    * partition feeds it.
    */
  def stratifiedSample(spark: SparkSession, dir: String, perStratum: Int = 50): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("bucket"), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("bucket", md5(col("doc_id").cast("string")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= perStratum)
      .select(col("doc_id"), col("lang"), col("bucket"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Document-length decile profile with per-tile count/min/max — the
    * distribution report that sizes length filters before a curation
    * run. Semantics are exactly `ntile(10) OVER (ORDER BY n_chars,
    * doc_id)` but computed in two phases so NO partition-less window
    * ever executes (a global-order WindowExec serializes the table
    * through one task — the classic 100 TB scale-killer):
    *
    *   1. a tiny histogram `n_chars → count` (distinct lengths ≪ rows)
    *      is collected and turned into each length's global base rank —
    *      the broadcast boundary table;
    *   2. each row's global rank = base(n_chars) + its row_number
    *      WITHIN its n_chars group (a partitioned window — every group
    *      is small), and the ntile id follows from the rank by integer
    *      arithmetic (first N%10 tiles get one extra row).
    */
  def lengthDeciles(spark: SparkSession, dir: String): DataFrame =
    lengthDecilesOf(Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")))

  /** See [[lengthDeciles]]. The exact two-phase path collects a
    * driver-side histogram of DISTINCT lengths, so its driver memory
    * is bounded by the length cardinality, not the row count — fine
    * for text corpora (lengths ≤ max doc length), but the bound is
    * enforced, not assumed: above `maxDistinct` distinct values the
    * operator switches to `approx_percentile`-derived decile
    * boundaries (driver data = 9 numbers) with exact per-tile
    * count/min/max. The approx path's tile POPULATIONS can deviate
    * from exact ntile on heavy boundary ties; boundaries themselves
    * are exact whenever the sketch's accuracy budget covers the
    * cardinality.
    */
  def lengthDecilesOf(docs0: DataFrame, maxDistinct: Long = 100000L): DataFrame = {
    val docs = docs0.select(col("doc_id"), col("n_chars"))
    def approxPath: DataFrame = {
      val bounds = docs.agg(expr(
        "approx_percentile(n_chars, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9), 10000)"))
        .head.getSeq[Long](0)
      val tile = bounds.foldLeft(lit(1L))((acc, b) =>
        acc + when(col("n_chars") > b, 1L).otherwise(0L))
      docs.withColumn("tile", tile)
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("tile"))
    }
    // scale mode skips even the capped histogram collect — the sketch
    // path is the point of the flag
    if (Scale.approxOn(docs.sparkSession)) return approxPath
    // ONE aggregation decides the path AND feeds the exact path: the
    // histogram collect is capped at maxDistinct+1 rows (driver memory
    // bounded by the cap, not the cardinality); overflowing the cap
    // switches to the sketch. A separate count_distinct pre-pass would
    // scan the corpus twice for no extra safety.
    val histCapped = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
      .orderBy(col("n_chars")).limit(maxDistinct.toInt + 1).collect()
    if (histCapped.length > maxDistinct) return approxPath
    val hist = histCapped // complete: cardinality is under the cap
    val n = hist.map(_.getLong(1)).sum
    var cum = 0L
    val baseRows = hist.map { r =>
      val b = cum; cum += r.getLong(1); (r.getLong(0), b)
    }.toSeq
    import docs.sparkSession.implicits._
    val base = baseRows.toDF("n_chars", "base")
    val q = n / 10
    val rem = n % 10
    val cut = rem * (q + 1)
    val w = Window.partitionBy(col("n_chars")).orderBy(col("doc_id"))
    docs.join(broadcast(base), "n_chars")
      .withColumn("rnk", col("base") + row_number().over(w))
      .withColumn("tile", when(col("rnk") <= cut,
          expr(s"(rnk + $q) div ${q + 1}"))
        .otherwise(expr(s"$rem + (rnk - $cut + ${q - 1}) div $q")))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("tile"))
  }

  /** Sequence packing — the step that turns a curated corpus into
    * fixed-budget training sequences: documents are laid out in a
    * deterministic order and cut into bins of `budgetTokens` estimated
    * tokens (ceil(chars/4), [[TextAnalysis.tokenCount]]'s estimate). A
    * document goes to the bin its CUMULATIVE-BEFORE token count falls
    * in (`cum_before div budget`), so bin assignment is a closed-form
    * window expression — no iterative first-fit state — at the cost of
    * boundary documents overflowing their bin by at most one document
    * (the standard contiguous-packing trade; training runs truncate or
    * span, they don't re-shuffle).
    *
    * Scale: the layout order is per-SHARD (first hex char of
    * md5(doc_id) — 16 shards here, thousands at 100 TB), so the
    * running sum is a window PARTITIONED by shard: no global-order
    * window ever plans, every shard packs independently and in
    * parallel, and adding a shard dimension to the output keeps bin
    * ids stable under re-runs. Output is the per-bin manifest
    * (shard, bin, n_docs, tok_sum) a data loader consumes.
    */
  def packSequences(spark: SparkSession, dir: String, budgetTokens: Long = 2048L): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        substring(md5(col("doc_id").cast("string")), 1, 1).as("shard"),
        ceil(length(col("text")) / lit(4.0)).cast("long").as("est_tok"))
      .withColumn("cum", sum(col("est_tok")).over(w))
      // integer div (`div`, not `/`) — exact on both engines (SURVEY §4)
      .withColumn("bin", expr(s"(cum - est_tok) div ${budgetTokens}L"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("est_tok")).as("tok_sum"))
      .orderBy(col("shard"), col("bin"))
  }

  /** Packing-efficiency sweep — [[packSequences]]' budget knob priced
    * before a training run commits to a context length: for each
    * candidate token budget, the bin count, mean docs per bin, fill
    * ratio (token mass over allocated capacity — the fraction of the
    * context window that is real text rather than padding), and the
    * count of single docs that overflow the budget outright (the docs
    * a chunker must split first). Fill climbing with budget says
    * longer contexts waste less padding on THIS corpus; a high
    * oversize count says the chunking pass is not optional.
    *
    * One per-shard cumulative pass (the exact [[packSequences]]
    * arithmetic) shared by every budget; per budget the bin id is the
    * same integer floor division, so each sweep row reconciles
    * exactly with a packSequences run at that budget. Counts exact;
    * two rounded divisions per row.
    */
  def packEfficiencySweep(spark: SparkSession, dir: String,
                          budgets: Seq[Long] = Seq(1024L, 2048L, 4096L)): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = graft.sources.ScratchCache.materialize(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          substring(md5(col("doc_id").cast("string")), 1, 1).as("shard"),
          ceil(length(col("text")) / lit(4.0)).cast("long").as("est_tok"))
        .withColumn("cum", sum(col("est_tok")).over(w)))
    c.crossJoin(broadcast(budgets.toDF("budget")))
      .select(col("budget"), col("shard"), col("est_tok"),
        expr("(cum - est_tok) div budget").as("bin"))
      .groupBy(col("budget"))
      .agg(countDistinct(col("shard"), col("bin")).as("n_bins"),
        count(lit(1)).as("n_docs"),
        sum(col("est_tok")).as("total_tok"),
        count(when(col("est_tok") > col("budget"), 1)).as("n_oversize"))
      .select(col("budget"), col("n_bins"),
        round(col("n_docs") / col("n_bins"), 5).as("mean_docs_per_bin"),
        round(col("total_tok") / (col("n_bins") * col("budget")), 5).as("fill_ratio"),
        col("n_oversize"))
      .orderBy(col("budget"))
  }

  /** Source-mixture sampling — the domain-weighting step of a training
    * mix (the Pile/Dolma "mixing proportions" table): each source gets
    * a deterministic hash-threshold keep rate, so the drawn subset is
    * reproducible, stable under corpus growth, and needs NO shuffle to
    * draw (the keep decision is a pure scan predicate, like
    * [[hashSample]]). Rates are expressed as md5-prefix hex
    * thresholds out of 0x10000 (e.g. "8000" ≈ 50%). The report
    * aggregates per source: corpus rows, kept rows, achieved rate —
    * the sanity table checked before a mix ships.
    */
  def mixtureSample(spark: SparkSession, dir: String,
                    rates: Seq[(String, String)] = Seq(
                      "src0" -> "cccc", "src1" -> "8000", "src2" -> "4000",
                      "src3" -> "2000"),
                    defaultRate: String = "1000"): DataFrame = {
    val thr = rates.foldRight(lit(defaultRate)) { case ((src, hex), els) =>
      when(col("source") === src, lit(hex)).otherwise(els)
    }
    Tables.documents(spark, dir)
      .withColumn("bucket", substring(md5(col("doc_id").cast("string")), 1, 4))
      .withColumn("kept", (col("bucket") < thr).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"))
      .withColumn("rate", col("n_kept") / col("n_total"))
      .orderBy(col("source"))
  }

  /** Key-skew diagnostic: per-key row counts for the heaviest keys,
    * with each key's share of the table and its multiple of the mean
    * key size. This is the report that decides salting / AQE skew-join
    * thresholds before a big join or aggregation ships at full scale.
    * Ratios are emitted as exact int/int double divisions (no rounding
    * — see SURVEY §4).
    */
  def keySkew(spark: SparkSession, dir: String, topN: Int = 10): DataFrame = {
    val sizes = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val tot = sizes.agg(
      sum(col("n_events")).as("total"),
      count(lit(1)).as("n_keys"))
    sizes.crossJoin(broadcast(tot))
      .select(col("user_id"), col("n_events"), col("n_keys"),
        (col("n_events") / col("total")).as("share"),
        (col("n_events") / (col("total") / col("n_keys"))).as("skew_x"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(topN)
  }

  /** Per-source corpus content checksum — the data-versioning receipt a
    * 100 TB pipeline publishes with every corpus snapshot so replicas,
    * re-crawls and migrations can be audited without byte-comparing
    * shards: row count, total chars, and an ORDER-INDEPENDENT content
    * fingerprint (`bit_xor` of a portable 64-bit hash of
    * `doc_id:md5(text)`). XOR commutes and never overflows, so the
    * aggregate is partition-order-invariant — identical across any
    * shuffle layout, executor count, or engine — and any single
    * changed/dropped/duplicated document flips it. One narrow scan +
    * map-side-combined aggregate; the hash ([[Dedup.md5Long64]]) is the
    * DuckDB `md5_number_upper` value, so an external auditor can
    * re-derive every checksum from the raw parquet.
    */
  def corpusChecksum(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("n_chars"),
        Dedup.md5Long64(concat(col("doc_id").cast("string"), lit(":"), md5(col("text")))).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(h)").as("checksum"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))

  /** Deterministic weighted sampling (size-biased draws for data
    * mixing): each document gets a reproducible uniform from
    * md5("ws:"||doc_id) and a priority `w·2^44 div u` — the
    * integer-exact w/u surrogate of the Efraimidis–Spirakis key
    * u^(1/w), monotone in weight over uniform, so selection
    * probability grows with the weight (here `n_chars`, the
    * chars-processed-per-doc cost a token-budgeted mixture weights by).
    * All arithmetic is 64-bit integer (md5 masked to 48 bits, one
    * exact `div`) — no float, no RNG state — so membership is a pure
    * function of the id, stable across engines and corpus growth like
    * [[hashSample]]. Top-N by (priority DESC, doc_id ASC) runs as
    * TakeOrderedAndProject over the narrow scan — per-partition heaps,
    * no global sort.
    */
  def weightedSample(spark: SparkSession, dir: String, n: Int = 50): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        (Dedup.md5Long64(concat(lit("ws:"), col("doc_id").cast("string")))
          .bitwiseAND(lit((1L << 48) - 1)) + 1L).as("u"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        expr("n_chars * 17592186044416 div u").as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(n)

  /** Referential-coverage audit across the three tables a
    * vector-recommendation pipeline joins constantly: every item the
    * BEHAVIORAL log references (view/click/purchase props) checked
    * against the embedding corpus and the document catalog. The
    * cold-start report — an item with events but no embedding can't
    * be retrieved, one with no document can't be displayed — and the
    * event-weighted coverage says whether the gaps are dead tail or
    * live traffic (the number that decides if a backfill is urgent).
    *
    * One distinct-items frame, two left-semi-shaped existence joins,
    * one event-weighted recount; all counts exact BIGINTs, the three
    * ratios round once each. Output is one row.
    */
  def itemCoverageAudit(spark: SparkSession, dir: String): DataFrame = {
    val refs = graft.sources.ScratchCache.materialize(
      Tables.events(spark, dir)
        .where(col("event_type").isin("view", "click", "purchase"))
        .select(get_json_object(col("props"), "$.k").cast("long").as("item_id"))
        .where(col("item_id").isNotNull)
        .groupBy(col("item_id")).agg(count(lit(1)).as("n_events")))
    val flagged = refs
      .join(Tables.embeddings(spark, dir).select(col("vec_id").as("item_id"))
        .withColumn("has_emb", lit(1)), Seq("item_id"), "left_outer")
      .join(Tables.documents(spark, dir).select(col("doc_id").as("item_id"))
        .withColumn("has_doc", lit(1)), Seq("item_id"), "left_outer")
    flagged.agg(
      count(lit(1)).as("n_items"),
      count(col("has_emb")).as("n_with_embedding"),
      count(col("has_doc")).as("n_with_doc"),
      sum(col("n_events")).as("n_item_events"),
      coalesce(sum(when(col("has_emb").isNotNull, col("n_events"))), lit(0L))
        .as("n_events_covered"))
      .select(col("n_items"), col("n_with_embedding"), col("n_with_doc"),
        round(col("n_with_embedding") / col("n_items"), 5).as("item_coverage"),
        col("n_item_events"), col("n_events_covered"),
        round(col("n_events_covered") / col("n_item_events"), 5).as("event_coverage"))
  }

  /** Data-integrity profile — the ingestion gate's null/blank/
    * consistency audit over the two content tables, as one skinny
    * (table, metric, n) frame: null and blank fractions per column,
    * plus CROSS-FIELD invariants (documents.n_chars must equal
    * length(text); events.props must parse and carry the item ref the
    * recommender paths read). Each table contributes ONE conditional-
    * aggregate scan (no shuffle beyond the final 1-row partials), and
    * the stacked output is bounded by the metric count — the shape a
    * daily pipeline health check appends to a history table.
    */
  def dataQualityProfile(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).agg(
      count(lit(1)).as("rows"),
      count(when(col("text").isNull || length(col("text")) === 0, 1)).as("blank_text"),
      count(when(col("lang").isNull, 1)).as("null_lang"),
      count(when(col("source").isNull, 1)).as("null_source"),
      count(when(col("n_chars") =!= length(col("text")), 1)).as("n_chars_mismatch"))
    val e = Tables.events(spark, dir).agg(
      count(lit(1)).as("rows"),
      count(when(col("user_id").isNull, 1)).as("null_user"),
      count(when(col("value").isNull || col("value") < 0, 1)).as("bad_value"),
      count(when(col("props").isNull ||
        get_json_object(col("props"), "$.k").isNull, 1)).as("missing_item_ref"))
    val dm = d.select(expr(
      "stack(5, 'documents', 'rows', rows, 'documents', 'blank_text', blank_text, " +
        "'documents', 'null_lang', null_lang, 'documents', 'null_source', null_source, " +
        "'documents', 'n_chars_mismatch', n_chars_mismatch) AS (tbl, metric, n)"))
    val em = e.select(expr(
      "stack(4, 'events', 'rows', rows, 'events', 'null_user', null_user, " +
        "'events', 'bad_value', bad_value, 'events', 'missing_item_ref', missing_item_ref) " +
        "AS (tbl, metric, n)"))
    dm.unionAll(em).orderBy(col("tbl"), col("metric"))
  }

  /** Time-based train/val/test split manifest with a leakage audit:
    * the event stream splits at integer DAY boundaries (train gets the
    * first ⌊span·80%⌋ days, val the next tenth, test the rest — exact
    * integer arithmetic on epoch days, no row-rank quantile and
    * therefore no global sort), and each eval split reports how many
    * of its users also appear in train — the user-overlap number that
    * says whether a per-user model will leak across the boundary.
    * One (user, split) distinct frame feeds the counts and the
    * LEFT SEMI overlap; 3 rows out.
    */
  def temporalSplitPrep(spark: SparkSession, dir: String,
                        trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val dayMs = 86400000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"ts_ms div $dayMs").as("day"))
    val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      // integer floor division (`div`, matching the oracle's `//`): a
      // double `/` here would classify the boundary day differently
      // from the oracle whenever the span isn't a multiple of 10
      .select(col("d0"), col("d1"),
        expr(s"d0 + (d1 - d0 + 1) * $trainPct div 100").as("t1"),
        expr(s"d0 + (d1 - d0 + 1) * ${trainPct + valPct} div 100").as("t2"))
    val tagged = graft.sources.ScratchCache.materialize(
      ev.crossJoin(broadcast(bounds))
        .select(col("user_id"), col("day"),
          when(col("day") < col("t1"), "train")
            .when(col("day") < col("t2"), "val")
            .otherwise("test").as("split")))
    val users = tagged.select(col("user_id"), col("split")).distinct()
    val trainUsers = users.where(col("split") === "train").select(col("user_id"))
    val overlap = users.where(col("split") =!= "train")
      .join(trainUsers, Seq("user_id"), "left_semi")
      .groupBy(col("split")).agg(count(lit(1)).as("n_users_in_train"))
    tagged.groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        (min(col("day")) * dayMs).as("day_from_ms"),
        (max(col("day")) * dayMs).as("day_to_ms"))
      .join(overlap, Seq("split"), "left_outer")
      // 0 for the train row itself (overlap-with-train is defined for
      // the eval splits; a NULL here would wobble dtypes cross-engine)
      .withColumn("n_users_in_train", coalesce(col("n_users_in_train"), lit(0L)))
      .orderBy(col("day_from_ms"))
  }

  /** Temperature-scaled mixture plan: per-source sampling weights
    * w_s = p_s^α / Σ p_s^α over exact token shares p_s, plus the token
    * allocation of a fixed training budget — the α-sampling table
    * (multilingual-BERT / XLM-R convention: α < 1 upsamples the tail,
    * α = 1 is proportional, α = 0 uniform) that [[mixtureSample]]'s
    * per-source rates get REFILLED from when the corpus drifts.
    * Token counts are exact whitespace-word BIGINTs from one narrow
    * scan; p, the pow(), and the final allocation are the only float
    * ops and the weight normalizer is a 1-row broadcast. Output is
    * |sources| rows. Allocations round from the ROUNDED weights, so
    * the plan a user reads is exactly the plan downstream tooling
    * gets.
    */
  def mixturePlan(spark: SparkSession, dir: String, alpha: Double = 0.5,
                  budgetTokens: Long = 1000000L): DataFrame = {
    val perSource = Tables.documents(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_tokens"))
    val tot = perSource.agg(sum(col("n_tokens")).as("t"),
      sum(pow(col("n_tokens"), lit(alpha))).as("z"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / col("t"), 5).as("p"),
        round(pow(col("n_tokens"), lit(alpha)) / col("z"), 5).as("weight"))
      .withColumn("alloc_tokens",
        round(col("weight") * budgetTokens).cast("long"))
      .orderBy(col("source"))
  }

  /** Output shard plan — the write-side sizing pass a 100 TB corpus
    * job runs before `repartition(n, key).write`: per source, the
    * estimated payload bytes (Σ n_chars — the text column dominates
    * this corpus; swap the estimator per schema), the shard count
    * that lands each output file near `targetBytes`
    * (`greatest(1, ceil(bytes/target))`), and the resulting per-shard
    * doc count and size. Too few shards → unsplittable multi-GB
    * files and straggler writers; too many → the small-files problem
    * that kills the NEXT job's scan planning. Exact integer
    * arithmetic throughout (ceil via `(a + b - 1) div b`), so the
    * printed plan is the shipped plan on every engine.
    *
    * Scale shape: one map-side-combined aggregate over the corpus,
    * |sources| output rows — the plan costs one scan regardless of
    * corpus size.
    */
  def outputShardPlan(spark: SparkSession, dir: String,
                      targetBytes: Long = 128L * 1024 * 1024): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("est_bytes"))
      .withColumn("n_shards",
        greatest(lit(1L), expr(s"(est_bytes + $targetBytes - 1) div $targetBytes")))
      .withColumn("docs_per_shard",
        expr("(n_docs + n_shards - 1) div n_shards"))
      .withColumn("shard_bytes", expr("est_bytes div n_shards"))
      .orderBy(col("source"))
  }

  /** Classifier-based quality filtering, the GPT-3/LLaMA curation
    * archetype (Brown et al. 2020 §A trained a classifier to score
    * CommonCrawl against a curated positive set): a multinomial Naive
    * Bayes model over `buckets` hashed unigram buckets, trained on the
    * deterministic 80% hash split (md5(doc_id) 4-hex prefix < 'cccc',
    * [[hashSample]]'s convention) with `source` as the label, then
    * evaluated on the held-out 20% — per-source test counts,
    * correct-prediction counts, recall, and precision. The eval table
    * is what decides whether a source-attribution classifier is good
    * enough to gate admission at 100 TB.
    *
    * Determinism: integer token counts throughout; the only floats are
    * ln() of count ratios, and per-(doc, class) scores round to 5
    * decimals BEFORE the argmax (ties → class name ascending), so both
    * engines pick the same prediction. Docs whose text has no ≥2-char
    * token carry no features and are not classified (they score −∞
    * under any bag model); the counts are over classified docs.
    *
    * Scale shape: rides [[TextRetrieval.ensureModel]]'s persisted tf
    * triples (the only corpus-scale shuffle is the term→bucket
    * equi-join); the model is a (|classes|·B)-row grid → broadcast;
    * per-doc scoring is one map-side-combined aggregate over ≤B rows
    * per doc; the argmax is a per-doc window, never a global sort.
    */
  def nbSourceClassify(spark: SparkSession, dir: String,
                       buckets: Int = 256): DataFrame = {
    val scored = nbScoredTest(spark, dir, buckets)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cls"))
    val pred = scored.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("doc_id"), col("source"), col("cls").as("pred"))
    val byTrue = pred.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("pred") === col("source"), 1)).as("n_correct"))
    val byPred = pred.groupBy(col("pred").as("source"))
      .agg(count(lit(1)).as("n_pred"))
    byTrue.join(byPred, Seq("source"), "left_outer")
      .withColumn("n_pred", coalesce(col("n_pred"), lit(0L)))
      .select(col("source"), col("n_docs"), col("n_correct"), col("n_pred"),
        round(col("n_correct") / col("n_docs"), 5).as("recall"),
        when(col("n_pred") === 0, lit(0.0))
          .otherwise(round(col("n_correct") / col("n_pred"), 5)).as("precision"))
      .orderBy(col("source"))
  }

  /** The held-out scored frame behind [[nbSourceClassify]] and
    * [[nbCalibration]]: one row per (test doc, class) with the
    * 5-decimal-rounded joint log-score `ll + ln prior` — rounding
    * happens HERE, before any argmax or softmax, so every consumer
    * (and every oracle) ranks and normalizes the exact same numbers.
    * See [[nbSourceClassify]] for model conventions and scale shape.
    */
  private def nbScoredTest(spark: SparkSession, dir: String,
                           buckets: Int): DataFrame = {
    val m = TextRetrieval.ensureModel(spark, dir)
    def docsF = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        (substring(md5(col("doc_id").cast("string")), 1, 4) < "cccc").as("is_train"))
    // BUILD-ONCE persisted NB model (the [[TextRetrieval.ensureModel]]
    // fit-once discipline applied to the trained classifier): the
    // term→bucket map, the dense (class × bucket) log-weight grid and
    // the log-priors publish atomically per (documents fingerprint,
    // buckets). Both consumers (classify, calibration) previously
    // re-ran the whole TRAIN-side fit — a corpus-TF distinct for the
    // vocabulary, the all-docs bucket rollup, the class grid — per
    // query (guide §1.2); now each query only scores its TEST docs
    // against the broadcast model. The vocabulary comes from the
    // fitted df table (identical term set to the old tf-distinct —
    // df is grouped from tf); train-side bucket sums collapse
    // (doc, b) → (cls, b) in one exact long aggregate (sum is
    // associative over longs). lw/lp round-trip parquet as exact
    // IEEE doubles.
    val base = graft.sources.IndexStore.indexPath(spark, "nbmodel_v1",
      s"$dir/documents.parquet", s"b$buckets")
    graft.sources.IndexStore.publish(spark, base) { tmp =>
      m.dfT.select(col("term"))
        .withColumn("b",
          conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long") % buckets)
        .write.mode("overwrite").parquet(s"$tmp/termb")
      val termB = spark.read.parquet(s"$tmp/termb")
      val clsB = m.tf.join(termB, "term")
        .join(docsF.where(col("is_train")).select(col("doc_id"), col("source")),
          "doc_id")
        .groupBy(col("source").as("cls"), col("b")).agg(sum(col("tf")).as("csb"))
      // dense (class × vocab-bucket) grid: a bucket unseen in a
      // class's train split still contributes its add-1 floor
      clsB.groupBy(col("cls")).agg(sum(col("csb")).as("cst"))
        .crossJoin(termB.select(col("b")).distinct())
        .join(clsB, Seq("cls", "b"), "left_outer")
        .select(col("cls"), col("b"),
          log((coalesce(col("csb"), lit(0L)) + 1.0) / (col("cst") + buckets)).as("lw"))
        .write.mode("overwrite").parquet(s"$tmp/grid")
      val priors = docsF.where(col("is_train"))
        .groupBy(col("source").as("cls")).agg(count(lit(1)).as("nd"))
      priors.crossJoin(broadcast(priors.agg(sum(col("nd")).as("ntot"))))
        .select(col("cls"), log(col("nd") / col("ntot")).as("lp"))
        .write.mode("overwrite").parquet(s"$tmp/pri")
    }
    val termB = graft.sources.IndexStore.open(spark, s"$base/termb")
    val grid = graft.sources.IndexStore.open(spark, s"$base/grid")
    val pri = graft.sources.IndexStore.open(spark, s"$base/pri")
    // per-query work: bucket-roll ONLY the test docs' tf rows and
    // score against the broadcast grid. The scored frame is (eval
    // docs × classes) rows — bounded, and shared by both consumers
    // via one ScratchCache entry
    val docbTest = m.tf.join(termB, "term")
      .join(docsF.where(col("is_train") === false)
        .select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("doc_id"), col("source"), col("b")).agg(sum(col("tf")).as("cb"))
    graft.sources.ScratchCache.materialize(
      docbTest
        .join(broadcast(grid), "b")
        .groupBy(col("doc_id"), col("source"), col("cls"))
        .agg(sum(col("cb") * col("lw")).as("ll"))
        .join(broadcast(pri), "cls")
        .select(col("doc_id"), col("source"), col("cls"),
          round(col("ll") + col("lp"), 5).as("score")))
  }

  /** Classifier calibration (reliability diagram) for
    * [[nbSourceClassify]]'s model — the table that decides whether the
    * classifier's CONFIDENCE can gate admission, not just its argmax
    * (Guo et al., ICML 2017 "On Calibration of Modern Neural
    * Networks"): per-doc softmax confidence of the predicted class
    * over the 5-decimal-rounded per-class log-scores, bucketed into
    * ten equal-width bins; per bin, doc count, empirical accuracy,
    * mean confidence, and the signed gap (confidence − accuracy, the
    * per-bin term of expected calibration error). A well-calibrated
    * gate lets "keep docs the classifier is ≥0.9 sure about" mean
    * what it says; NB is famously overconfident, and this table
    * measures by how much.
    *
    * Determinism: confidence = 1/Σ_j exp(score_j − score_max)
    * computed from the ALREADY-ROUNDED scores, itself rounded to 5
    * decimals before binning (bin = min(⌊10·conf⌋, 9)) — both
    * engines bin identical numbers; ties in the argmax go to class
    * name ascending as in [[nbSourceClassify]].
    *
    * Scale shape: [[nbScoredTest]]'s plan (broadcast model grid, one
    * map-side-combined aggregate per doc) plus one |classes|-row
    * per-doc fold and a 10-row final aggregate — no new shuffle
    * beyond the scored frame's own.
    */
  def nbCalibration(spark: SparkSession, dir: String,
                    buckets: Int = 256): DataFrame = {
    val scored = nbScoredTest(spark, dir, buckets)
    // smax via a doc-partitioned window (|classes| rows per doc, never
    // a global sort), then one fold per doc: z for the softmax and the
    // argmax as min(cls | score = smax) — ties to the ascending class
    // name, the same rule nbSourceClassify's window applies
    val folded = scored
      .withColumn("smax", max(col("score"))
        .over(Window.partitionBy(col("doc_id"))))
      .groupBy(col("doc_id"), col("source"), col("smax"))
      .agg(sum(exp(col("score") - col("smax"))).as("z"),
        min(when(col("score") === col("smax"), col("cls"))).as("pred"))
      .select(col("doc_id"), col("source"), col("pred"),
        round(lit(1.0) / col("z"), 5).as("conf"))
    folded
      .withColumn("bin", least(floor(col("conf") * 10), lit(9L)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("pred") === col("source"), 1)).as("n_correct"),
        round(avg(col("conf")), 5).as("mean_conf"))
      .withColumn("accuracy", round(col("n_correct") / col("n_docs"), 5))
      .withColumn("gap", round(col("mean_conf") - col("accuracy"), 5))
      .select(col("bin"), col("n_docs"), col("n_correct"), col("mean_conf"),
        col("accuracy"), col("gap"))
      .orderBy(col("bin"))
  }

  /** DSIR data selection — importance resampling toward a target
    * domain (Xie et al., NeurIPS 2023 "Data Selection for Language
    * Models via Importance Resampling"): fit hashed bag-of-words
    * models over the target corpus (here: the docs of `targetSource`,
    * the pipeline's Wikipedia stand-in) and the raw pool, weight every
    * pool document by its log importance ratio
    * `Σ_b c_b·(ln p_target(b) − ln p_raw(b))` over `buckets` hashed
    * unigram buckets (add-1 smoothing), and select `topK` docs by
    * Gumbel-top-k — sampling WITHOUT replacement ∝ softmax(logw),
    * the paper's resampling step. Both the feature hash
    * (u32(md5(term)) mod B) and the Gumbel noise
    * (−ln(−ln((u32(md5('dsir:'||doc_id))+0.5)/2^32))) are md5-derived,
    * so the draw is reproducible and the whole selection replays in
    * SQL. Selection ranks on the 5-decimal-rounded score (ties →
    * doc_id) so both engines cut the same K.
    *
    * Scale shape: the term→bucket map is vocab-sized and built from
    * the shared [[TextRetrieval.ensureModel]] tf table (one term-keyed
    * equi-join, the only corpus-scale shuffle); per-doc bucket counts
    * collapse to ≤B rows per doc map-side; both LM tables are B rows →
    * broadcast; the final cut is a TakeOrdered top-K, never a global
    * sort. Docs with zero ≥2-char tokens carry no features and are
    * not candidates (they score −∞ under any bag model).
    */
  def dsirSelect(spark: SparkSession, dir: String, targetSource: String = "src0",
                 buckets: Int = 256, topK: Int = 50): DataFrame = {
    val m = TextRetrieval.ensureModel(spark, dir)
    val termB = m.tf.select(col("term")).distinct()
      .withColumn("b",
        conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long") % buckets)
    val docb = graft.sources.ScratchCache.materialize(
      m.tf.join(termB, "term")
        .groupBy(col("doc_id"), col("b")).agg(sum(col("tf")).as("cb")))
    val srcs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val withSrc = docb.join(srcs, "doc_id")
    val rawC = withSrc.groupBy(col("b")).agg(sum(col("cb")).as("cr"))
    val tgtC = withSrc.where(col("source") === targetSource)
      .groupBy(col("b")).agg(sum(col("cb")).as("ct"))
    val tots = rawC.agg(sum(col("cr")).as("tr"))
      .crossJoin(tgtC.agg(sum(col("ct")).as("tt")))
    val lr = rawC.join(tgtC, Seq("b"), "left_outer")
      .crossJoin(broadcast(tots))
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + 1.0) / (col("tt") + buckets)) -
          log((col("cr") + 1.0) / (col("tr") + buckets))).as("lr"))
    val g = -log(-log((conv(substring(md5(
      concat(lit("dsir:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") + 0.5) / 4294967296.0))
    docb.join(broadcast(lr), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("cb")).as("n_tokens"),
        round(sum(col("cb") * col("lr")), 5).as("logw"))
      .withColumn("score", round(col("logw") + g, 5))
      .join(srcs, "doc_id")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("logw"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Topic discovery — the corpus clustered in EMBEDDING space with a
    * LEXICAL label per cluster: the deterministic IVF coarse-quantizer
    * assignment ([[Ivf.ensureIndex]], the same persisted artifact the
    * ANN family probes) joined to the documents on the 1:1
    * vec_id = doc_id key, and each cluster named by its `topN` terms
    * ranked by summed TF-IDF weight (the [[TextRetrieval.docKeywords]]
    * weight, summed over the cluster's docs). This is the standard
    * corpus-cartography pass a training-data pipeline runs before
    * mixture decisions — "what IS in this crawl slice" — and the
    * cluster ids are the blocking key [[clusterBalancedSample]] and
    * SemDeDup already share.
    *
    * Determinism: the fit is the portable bit-reproducible recipe
    * ([[Ivf.fitCentroidsPortable]]); term weights round to 5 decimals
    * BEFORE the per-cluster rank window (ties → term ascending), so
    * both engines cut the same top-N.
    *
    * Scale shape: the assignment is a narrow map over the persisted
    * index (no corpus shuffle), the per-(cell, term) sum is one
    * map-side-combined aggregate over the shared tf-idf model frame,
    * and the rank window partitions by cell — nCells·topN output rows.
    */
  def docClusters(spark: SparkSession, dir: String, nCells: Int = 16,
                  topN: Int = 3): DataFrame = {
    val (assigned, _) = Ivf.ensureIndex(spark, dir, nCells)
    val m = TextRetrieval.ensureModel(spark, dir)
    val cellOf = assigned.select(col("vec_id").as("doc_id"), col("cell"))
    val nd = cellOf.groupBy(col("cell")).agg(count(lit(1)).as("n_docs"))
    val cw = m.w.join(cellOf, "doc_id")
      .groupBy(col("cell"), col("term"))
      .agg(round(sum(col("w")), 5).as("weight"))
    val rw = Window.partitionBy(col("cell"))
      .orderBy(col("weight").desc, col("term"))
    cw.withColumn("rk", row_number().over(rw).cast("long"))
      .where(col("rk") <= topN)
      .join(broadcast(nd), "cell")
      .select(col("cell").cast("long").as("cluster"), col("n_docs"),
        col("rk"), col("term"), col("weight"))
      .orderBy(col("cluster"), col("rk"))
  }

  /** Cluster-balanced subsampling — the diversity-preserving draw
    * (DataComp/SemDeDup-era curation: cap each embedding cluster so
    * head topics can't drown the tail; cf. Abbas et al. 2023 §5's
    * cluster-balanced sampling): within each IVF cell, rank docs by
    * the md5('cbal:'||vec_id) hash and keep the first `perCell`. The
    * kept set is a pure function of (corpus, nCells, perCell) — no RNG
    * state. Hash KEYS are growth-stable (a document's hk never
    * changes), but MEMBERSHIP under the rank-based perCell cap is
    * not: a newly ingested document with a smaller hash can push an
    * existing member past the cap — unlike [[hashSample]]'s
    * threshold rule, where membership is per-document and
    * insert-only. Pin the corpus snapshot (or switch to a threshold
    * rule) when downstream needs append-stable membership.
    * Output carries the cell occupancy so the table
    * doubles as the coverage report: a cell with n_cell ≤ perCell is
    * kept whole, a 10⁶-doc head cell contributes exactly perCell.
    *
    * Scale shape: assignment is the persisted-index narrow map; the
    * rank is a cell-partitioned window (never global); output is
    * ≤ nCells·perCell rows.
    */
  def clusterBalancedSample(spark: SparkSession, dir: String,
                            nCells: Int = 16, perCell: Int = 8): DataFrame = {
    val (assigned, _) = Ivf.ensureIndex(spark, dir, nCells)
    val cells = assigned.select(col("vec_id"), col("cell"))
      .withColumn("hk",
        substring(md5(concat(lit("cbal:"), col("vec_id").cast("string"))), 1, 8))
    val occ = cells.groupBy(col("cell")).agg(count(lit(1)).as("n_cell"))
    val rw = Window.partitionBy(col("cell")).orderBy(col("hk"), col("vec_id"))
    cells.withColumn("rk", row_number().over(rw).cast("long"))
      .where(col("rk") <= perCell)
      .join(broadcast(occ), "cell")
      .select(col("cell").cast("long").as("cluster"), col("n_cell"),
        col("rk"), col("vec_id"), col("hk"))
      .orderBy(col("cluster"), col("rk"))
  }

  /** Greedy k-center coreset selection — farthest-point traversal
    * over the embedding corpus (the classic 2-approximation of the
    * k-center objective; Sener & Savarese, ICLR 2018 used it as the
    * active-learning/data-selection coreset): seed at the lowest
    * vec_id, then `k−1` rounds each selecting the point that
    * MAXIMIZES the minimum squared-L2 distance to everything chosen
    * so far (ties → lower vec_id). Each selected point's `dist` IS
    * the coverage radius of the prefix before it, so the output
    * doubles as the radius-vs-k sizing curve ("how many exemplars
    * until every vector is within r of one").
    *
    * Determinism: distances are the exact left-to-right Σ(aᵢ−bᵢ)²
    * folds every IVF/PQ oracle already replays bit-for-bit; the
    * argmax compares those raw doubles with the lower-id tie rule,
    * and only the REPORTED radius rounds (5 decimals).
    *
    * Scale shape: k bounded driver-side rounds; each is one narrow
    * scan computing ≤k plan-literal distances per row and a
    * TakeOrdered(1) — no shuffle of the corpus, ever. The scan frame
    * is ScratchCache-materialized so the k passes re-read persisted
    * blocks, not parquet.
    */
  def coresetKCenter(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import spark.implicits._
    require(k >= 1, s"k must be >= 1: $k")
    val emb = graft.sources.ScratchCache.materialize(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))
    def d2(sel: Seq[Double]) = aggregate(
      zip_with(col("embedding"), typedlit(sel),
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (acc, v) => acc + v)
    // fail loudly on an empty corpus (headOption, not .head's opaque
    // NoSuchElementException)
    val seed = emb.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("embedding")).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        s"coresetKCenter: $dir/embeddings.parquet is empty"))
    var selected = Vector(seed.getSeq[Float](1).map(_.toDouble))
    val picks = scala.collection.mutable.ArrayBuffer(
      (1L, seed.getLong(0), Option.empty[Double]))
    var exhausted = false
    for (j <- 2 to k if !exhausted) {
      val mind = array_min(array(selected.map(d2): _*))
      val next = emb.select(col("vec_id"), col("embedding"), mind.as("md"))
        .orderBy(col("md").desc, col("vec_id")).limit(1).head
      // fewer than k distinct vectors (or an all-duplicate corpus):
      // every remaining point has md = 0 and the argmax would re-pick
      // an already-selected vec_id forever — stop, the coreset is
      // complete (coverage radius 0 means everything is covered)
      if (next.getDouble(2) == 0.0) exhausted = true
      else {
        picks += ((j.toLong, next.getLong(0), Some(r5(next.getDouble(2)))))
        selected :+= next.getSeq[Float](1).map(_.toDouble)
      }
    }
    picks.toSeq.toDF("rk", "vec_id", "dist").orderBy(col("rk"))
  }

  /** DoReMi-flavored mixture reweighting — domain weights tilted
    * toward the sources a reference model generalizes WORST to (Xie
    * et al., NeurIPS 2023 "DoReMi: Optimizing Data Mixtures Speeds Up
    * Language Model Pretraining"; here the one-step exponentiated-
    * gradient update with [[TextAnalysis.lmHoldoutPpl]]'s held-out
    * bigram LM standing in for the proxy model): per source,
    * weight ∝ token_share · exp(η · excess), where excess is the
    * clamped eval−train NLL gap, normalized over sources, then an
    * integer token allocation against `budgetTokens`. Sources the LM
    * already fits (gap ≤ 0, or too little text to measure — NULL gap)
    * keep their baseline share; hard-to-generalize sources are
    * upweighted exactly as the EG step prescribes.
    *
    * Determinism: the gap arrives ALREADY rounded to 5 decimals from
    * lmHoldoutPpl, token counts are exact integers, and the final
    * weight rounds to 5 decimals before the allocation multiply —
    * the printed plan is the shipped plan on every engine.
    *
    * Scale shape: lmHoldoutPpl's plan (the one corpus-scale join is
    * (w1,w2)-keyed) plus one whitespace-token aggregate over the
    * corpus; everything after is |sources| rows with one broadcast
    * normalizer.
    */
  def doremiWeights(spark: SparkSession, dir: String, eta: Double = 1.0,
                    budgetTokens: Long = 1000000L): DataFrame = {
    require(eta > 0, s"eta must be positive: $eta")
    val ppl = TextAnalysis.lmHoldoutPpl(spark, dir)
      .select(col("source"), col("gap"))
    val toks = Tables.documents(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_tokens"))
    val tot = toks.agg(sum(col("n_tokens")).as("t"))
    val tilted = toks.join(ppl, Seq("source"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / col("t"), 5).as("base_share"),
        greatest(coalesce(col("gap"), lit(0.0)), lit(0.0)).as("excess"))
      .withColumn("tw", col("n_tokens") * exp(lit(eta) * col("excess")))
    val z = tilted.agg(sum(col("tw")).as("z"))
    tilted.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("base_share"), col("excess"),
        round(col("tw") / col("z"), 5).as("weight"))
      .withColumn("alloc_tokens",
        round(col("weight") * budgetTokens).cast("long"))
      .orderBy(col("source"))
  }

  /** User-erasure plan — the right-to-be-forgotten manifest a
    * large-scale pipeline runs BEFORE deleting anything: for a
    * deletion cohort (here the mod-sampled stand-in for the request
    * queue; production passes the actual id list), every artifact the
    * pipeline derives from user data is inventoried with the action
    * erasure requires there. Row-level stores (`delete_rows`): raw
    * event rows and the day partitions they touch (the rewrite units),
    * the distinct interaction pairs, and the cohort's ALS user-factor
    * rows. Derived training corpora (`rebuild_artifact`): sequential
    * training windows ([[Rec.seqPrep]]'s eligibility closed form —
    * n−1 windows per cohort user with 2 ≤ n ≤ maxSeq item events) and
    * the co-occurrence pair contributions (b·(b−1) per capped basket)
    * — counts a per-user delete CANNOT remove from the aggregate, so
    * the artifact itself must rebuild; the counts size that job.
    * `touched_keys` rows (distinct items the cohort engaged) scope
    * which index entries need re-verification after the rebuild.
    *
    * Everything is an exact integer over one cohort semi-join per
    * source frame — the cohort ships as a broadcast, no all-user scan
    * is re-keyed; output is a fixed 8-row manifest.
    */
  def userErasurePlan(spark: SparkSession, dir: String, cohortMod: Int = 97,
                      maxSeq: Int = 200, maxBasket: Int = 500): DataFrame = {
    val ev = Tables.events(spark, dir).where(col("user_id") % cohortMod === 0)
    val inter = ev
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"))
      .where(col("item_id").isNotNull)
    val base = ev.agg(
      countDistinct(col("user_id")).as("cohort_users"),
      count(lit(1)).as("event_rows"),
      countDistinct(expr("ts_ms div 86400000")).as("event_days"))
    val perUser = inter.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), countDistinct(col("item_id")).as("b"))
    val derived = perUser.agg(
      count(lit(1)).as("factor_users"),
      sum(when(col("n") >= 2 && col("n") <= maxSeq, col("n") - 1)
        .otherwise(lit(0L))).as("seq_windows"),
      sum(when(col("b") <= maxBasket, col("b") * (col("b") - 1))
        .otherwise(lit(0L))).as("cooc_contribs"))
    val pairs = inter.agg(
      countDistinct(col("user_id"), col("item_id")).as("inter_pairs"),
      countDistinct(col("item_id")).as("touched_items"))
    def row(artifact: String, action: String, c: org.apache.spark.sql.Column) =
      struct(lit(artifact).as("artifact"), lit(action).as("action"),
        coalesce(c, lit(0L)).as("n"))
    base.crossJoin(broadcast(derived)).crossJoin(broadcast(pairs))
      .select(explode(array(
        row("cohort", "request_queue", col("cohort_users")),
        row("events.rows", "delete_rows", col("event_rows")),
        row("events.day_partitions", "rewrite_partition", col("event_days")),
        row("interactions.pairs", "delete_rows", col("inter_pairs")),
        row("interactions.touched_items", "touched_keys", col("touched_items")),
        row("als.user_factors", "delete_rows", col("factor_users")),
        row("seq_prep.windows", "rebuild_artifact", col("seq_windows")),
        row("cooc.pair_contributions", "rebuild_artifact", col("cooc_contribs"))))
        .as("m"))
      .select(col("m.artifact"), col("m.action"), col("m.n"))
      .orderBy(col("artifact"))
  }
}
