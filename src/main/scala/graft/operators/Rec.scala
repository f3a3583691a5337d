package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.ScratchCache

/** Offline recommender evaluation — the measurement loop the reference
  * implies but never ships (app.py recommends by embedding similarity
  * and shows ANN trade-offs in ann_tradeoff_table.csv, yet has no way
  * to ask "do users actually pick what we recommend?"). This is the
  * standard answer: leave-last-out holdout over the behavioral log.
  */
object Rec {

  /** Leave-last-out hit-rate@K for the item-based co-visitation
    * recommender: each eligible user's LAST interacted item (by last
    * interaction time, ties toward the larger item id) is held out,
    * co-occurrence counts are fit on the REMAINING train interactions
    * only (no leakage — the holdout contributes zero edges), every
    * user is scored by summed co-visitation between their train items
    * and each candidate (train items excluded as candidates), and
    * hit@K asks whether the holdout ranks in the top K.
    *
    * Instead of materializing top-K lists, the eval computes the
    * HOLDOUT'S RANK among the user's candidates — 1 + the count of
    * candidates scoring strictly higher (ties toward the smaller item
    * id, the engine's standard order) — and reads hit@K as rank ≤ K
    * for every K in one pass. Users whose holdout receives no score
    * (no train neighbor co-occurred with it) count as misses.
    *
    * Scale shape: baskets are capped at `maxBasket` before the pair
    * join (the [[Analytics.itemCooccurrence]] bound, so no user emits
    * more than maxBasket² pairs); the co matrix, candidate scores and
    * ranks are all item/user-keyed aggregates; output is |ks| rows.
    * Every count is exact BIGINT; the single float op is the final
    * hit-rate division.
    */
  def recHoldoutEval(spark: SparkSession, dir: String,
                     ks: Seq[Int] = Seq(1, 5, 10),
                     maxBasket: Int = 500): DataFrame = {
    val ui = Tables.events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"),
        col("ts_ms"))
      .where(col("item_id").isNotNull)
      .groupBy(col("user_id"), col("item_id"))
      .agg(max(col("ts_ms")).as("last_ts"))
    val bk = ui.groupBy(col("user_id")).agg(count(lit(1)).as("basket"))
    val capped = ui.join(
      bk.where(col("basket") >= 2 && col("basket") <= maxBasket), Seq("user_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("last_ts").desc, col("item_id").desc)
    val ranked = capped.withColumn("rk", row_number().over(w))
    val holdout = ScratchCache.materialize(
      ranked.where(col("rk") === 1).select(col("user_id"), col("item_id").as("h")))
    val train = ScratchCache.materialize(
      ranked.where(col("rk") > 1).select(col("user_id"), col("item_id")))
    val co = train
      .join(train.select(col("user_id"), col("item_id").as("dst")), Seq("user_id"))
      .where(col("item_id") =!= col("dst"))
      .groupBy(col("item_id").as("src"), col("dst"))
      .agg(count(lit(1)).as("co"))
    val scores = ScratchCache.materialize(train
      .join(co, col("item_id") === col("src"))
      .groupBy(col("user_id"), col("dst"))
      .agg(sum(col("co")).as("score"))
      .join(train.select(col("user_id"), col("item_id").as("dst")),
        Seq("user_id", "dst"), "left_anti"))
    val sh = holdout.join(
      scores.select(col("user_id"), col("dst").as("h"), col("score").as("s_h")),
      Seq("user_id", "h"), "left_outer")
    val ranks = sh.where(col("s_h").isNotNull)
      .join(scores, Seq("user_id"), "left_outer")
      .groupBy(col("user_id"), col("h"))
      .agg((count(when(col("score") > col("s_h") ||
        (col("score") === col("s_h") && col("dst") < col("h")), 1)) + 1).as("rank"))
    val nUsers = holdout.agg(count(lit(1)).as("n_users"))
    ranks
      .select(explode(typedlit(ks.map(_.toLong))).as("k"), col("rank"))
      .groupBy(col("k"))
      .agg(count(when(col("rank") <= col("k"), 1)).as("n_hits"))
      // keep every requested K even when no user hits (or no user
      // was rankable at all): the K axis comes from a literal frame
      .join(spark.createDataFrame(ks.map(k => Tuple1(k.toLong)))
        .toDF("k"), Seq("k"), "right_outer")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .crossJoin(broadcast(nUsers))
      .select(col("k"), col("n_users"), col("n_hits"),
        round(col("n_hits") / col("n_users"), 5).as("hit_rate"))
      .orderBy(col("k"))
  }

  /** Interaction-matrix shape report — the "can collaborative
    * filtering work here" numbers read before anyone trains on the
    * user×item matrix: distinct users/items, non-zeros, density,
    * mean degree on both sides, and the share of interactions held
    * by the top-decile items (cold-start pressure: a matrix whose
    * mass sits in a few head items starves the tail of signal). One
    * distinct (user, item) frame feeds every number; the decile cut
    * folds over the (degree, multiplicity) HISTOGRAM — the
    * [[Analytics.engagementGini]] shape — so the only window runs
    * over the bounded distinct-degree frame, never a global
    * |items|-row rank (tied items share a degree, so the top-K sum
    * is identical to the ranked cut); exact integer ratios rounded
    * once. Output is one row.
    */
  def uiMatrixStats(spark: SparkSession, dir: String): DataFrame = {
    val ui = ScratchCache.materialize(Tables.events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"))
      .where(col("item_id").isNotNull)
      .distinct())
    val deg = ScratchCache.materialize(
      ui.groupBy(col("item_id")).agg(count(lit(1)).as("d")))
    // scale mode swaps the exact distincts for HLL++ sketches
    // (constant memory, mergeable) — the nnz count stays exact
    val tot = ui.agg(Scale.distinctCount(spark, col("user_id")).as("n_users"),
      Scale.distinctCount(spark, col("item_id")).as("n_items"),
      count(lit(1)).as("nnz"))
    val hist = deg.groupBy(col("d")).agg(count(lit(1)).as("m"))
    val wh = Window.orderBy(col("d").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val decile = hist
      .withColumn("before", coalesce(sum(col("m")).over(wh), lit(0L)))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("ni"))))
      .select(col("d"), expr(
        "greatest(0L, least(m, cast(ceil(ni / 10.0) AS BIGINT) - before))").as("take"))
      .agg(sum(col("d") * col("take")).as("decile_nnz"))
    tot.crossJoin(broadcast(decile))
      .select(col("n_users"), col("n_items"), col("nnz"),
        round(col("nnz") / (col("n_users") * col("n_items")), 5).as("density"),
        round(col("nnz") / col("n_users"), 5).as("mean_user_degree"),
        round(col("nnz") / col("n_items"), 5).as("mean_item_degree"),
        round(col("decile_nnz") / col("nnz"), 5).as("top_decile_item_share"))
  }

  /** Shared leave-last-out split for the content-recommender evals:
    * (holdout, train, capped) frames, all ScratchCache'd — the same
    * eligible-user / last-item-by-(last_ts, item_id) split
    * [[recHoldoutEval]] uses, so content and collaborative rows are
    * the same bake-off.
    */
  /** The leave-last-out split as a BUILD-ONCE persisted artifact
    * keyed by (events fingerprint, maxBasket) — the eval-suite
    * FIXTURE every holdout eval scores against (guide §1.2: four
    * declared evals each re-ran the events scan + last-ts aggregate +
    * per-user rank window to re-derive the identical split; a
    * production eval suite freezes its split once per log snapshot —
    * that is what makes two evals comparable at all). Longs
    * throughout — the parquet round-trip is bit-identical.
    */
  private def lastItemSplit(spark: SparkSession, dir: String, maxBasket: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = graft.sources.IndexStore.indexPath(spark, "lastsplit_v1",
      s"$dir/events.parquet", s"b$maxBasket")
    graft.sources.IndexStore.publish(spark, base) { tmp =>
      val ui = Tables.events(spark, dir)
        .where(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item_id"),
          col("ts_ms"))
        .where(col("item_id").isNotNull)
        .groupBy(col("user_id"), col("item_id"))
        .agg(max(col("ts_ms")).as("last_ts"))
      val bk = ui.groupBy(col("user_id")).agg(count(lit(1)).as("basket"))
      ui.join(bk.where(col("basket") >= 2 && col("basket") <= maxBasket),
          Seq("user_id"))
        .write.mode("overwrite").parquet(s"$tmp/capped")
      val capped = spark.read.parquet(s"$tmp/capped")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("last_ts").desc, col("item_id").desc)
      val ranked = capped.withColumn("rk", row_number().over(w))
      ranked.where(col("rk") === 1).select(col("user_id"), col("item_id").as("h"))
        .write.mode("overwrite").parquet(s"$tmp/holdout")
      ranked.where(col("rk") > 1).select(col("user_id"), col("item_id"))
        .write.mode("overwrite").parquet(s"$tmp/train")
    }
    (graft.sources.IndexStore.open(spark, s"$base/holdout"),
      graft.sources.IndexStore.open(spark, s"$base/train"),
      graft.sources.IndexStore.open(spark, s"$base/capped"))
  }

  /** Per-user embedding profiles over the train split: per-dimension
    * means rounded to 5 decimals ([[VectorSearch.labelCentroids]]'
    * oracle-proven contract, so summation order can't drift anything
    * downstream), collapsed to one array row per user.
    */
  private def userProfiles(spark: SparkSession, dir: String, train: DataFrame): DataFrame =
    train
      .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        col("item_id") === col("vec_id"))
      .select(col("user_id"), posexplode(col("embedding")))
      .toDF("user_id", "pos", "v")
      .groupBy(col("user_id"), col("pos"))
      .agg(round(avg(col("v")), 5).as("m"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("user_id"), transform(col("pm"), x => x.getField("m")).as("p"))

  /** Holdout ranks from a (user_id, item_id, score) candidate frame:
    * the holdout's rank = 1 + count of candidates scoring strictly
    * higher (ties toward the smaller item id). Users whose holdout
    * received no score are absent (counted as misses downstream).
    */
  private def ranksOf(holdout: DataFrame, scored: DataFrame): DataFrame = {
    val sh = holdout.join(
      scored.select(col("user_id"), col("item_id").as("h"), col("score").as("s_h")),
      Seq("user_id", "h"), "left_outer")
    sh.where(col("s_h").isNotNull)
      .join(scored, Seq("user_id"), "left_outer")
      .groupBy(col("user_id"), col("h"), col("s_h"))
      .agg((count(when(col("score") > col("s_h") ||
        (col("score") === col("s_h") && col("item_id") < col("h")), 1)) + 1).as("rank"))
  }

  /** hit@K table from a rank frame: every requested K kept even when
    * no user hits; the single float op is the final hit-rate division.
    */
  private def hitsOf(spark: SparkSession, ranks: DataFrame, holdout: DataFrame,
                     ks: Seq[Int]): DataFrame = {
    val nUsers = holdout.agg(count(lit(1)).as("n_users"))
    ranks
      .select(explode(typedlit(ks.map(_.toLong))).as("k"), col("rank"))
      .groupBy(col("k"))
      .agg(count(when(col("rank") <= col("k"), 1)).as("n_hits"))
      .join(spark.createDataFrame(ks.map(k => Tuple1(k.toLong)))
        .toDF("k"), Seq("k"), "right_outer")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .crossJoin(broadcast(nUsers))
      .select(col("k"), col("n_users"), col("n_hits"),
        round(col("n_hits") / col("n_users"), 5).as("hit_rate"))
      .orderBy(col("k"))
  }

  /** Exact full-catalog scoring — every (profile, engaged item) pair
    * via a catalog broadcast. The SPEC GROUND TRUTH twin of
    * [[shortlistScores]] (the [[Dedup.embeddingNearDup]] /
    * [[Dedup.embeddingNearDupLsh]] relationship): fine at test scale,
    * but the |users|×|items| fan-out and the full-catalog broadcast
    * are exactly what the surfaced query must NOT do at 100 TB.
    */
  private[graft] def exactScores(spark: SparkSession, dir: String, prof: DataFrame,
                                 items: DataFrame, train: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions._
    prof
      .crossJoin(broadcast(items))
      .select(col("user_id"), col("item_id"),
        cosine5(col("embedding"), col("p"), l2norm(col("embedding")), l2norm(col("p")))
          .as("score"))
      .join(train, Seq("user_id", "item_id"), "left_anti")
  }

  /** LSH-blocked candidate scoring — the 100 TB shape: profiles and
    * catalog items hash into `nBands` banded sign-LSH tables over the
    * same hash-derived ±1 planes as [[Dedup]]'s near-dup blocking
    * ([[Dedup.rademacherPlane]] — deterministic, so the DuckDB oracle
    * replays the blocking exactly, misses included), candidates are
    * any-band bucket collisions, and only candidates get the exact
    * cosine. The catalog is never broadcast whole: buckets join on
    * their (band, bucket) key and per-user candidate volume is
    * bounded by bucket occupancy × bands. Band width grows with the
    * catalog as ceil(log2(n/32)) above the `bitsFloor` (the
    * [[Dedup.embeddingNearDupLsh]] occupancy rule) and hot buckets
    * beyond `bucketCap` items are dropped ([[Dedup.dfCapped]]) — a
    * dense uninformative region never floods a reducer.
    */
  private[graft] def shortlistScores(spark: SparkSession, dir: String, prof: DataFrame,
                                     items: DataFrame, train: DataFrame,
                                     nBands: Int = 32, bitsFloor: Int = 6,
                                     bucketCap: Long = 1000L): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions._
    val nItems = items.count()
    val bits = math.max(bitsFloor,
      math.ceil(math.log(math.max(nItems, 32L).toDouble / 32.0) / math.log(2.0)).toInt)
    val dim = Lsh.embeddingDim(spark, dir)
    val planes = (for (b <- 0 until nBands; j <- 0 until bits) yield
      (b, 1L << j, Dedup.rademacherPlane(b, j, dim))).toDF("band", "weight", "plane")
    def buckets(df: DataFrame, idCol: String, vecCol: String): DataFrame =
      df.crossJoin(broadcast(planes))
        .groupBy(col(idCol), col("band"))
        .agg(sum(when(dotd(col(vecCol), col("plane")) >= 0, col("weight"))
          .otherwise(lit(0L))).as("bucket"))
        .withColumn("bb", col("band") * lit(1L << bits) + col("bucket"))
        .select(col(idCol), col("bb"))
    val itemBuckets = Dedup.dfCapped(buckets(items, "item_id", "embedding"), "bb", bucketCap)
    val profBuckets = buckets(prof, "user_id", "p")
    val cand = profBuckets.join(itemBuckets, Seq("bb"))
      .select(col("user_id"), col("item_id")).distinct()
    cand
      .join(prof, Seq("user_id"))
      .join(items, Seq("item_id"))
      .select(col("user_id"), col("item_id"),
        cosine5(col("embedding"), col("p"), l2norm(col("embedding")), l2norm(col("p")))
          .as("score"))
      .join(train, Seq("user_id", "item_id"), "left_anti")
  }

  /** Per-user holdout ranks for the content recommender, by path —
    * `shortlist = true` is the surfaced LSH-blocked eval,
    * `shortlist = false` the exact full-catalog twin specs compare
    * against (shortlist ranks must never beat exact ranks and scores
    * must agree wherever both paths scored the holdout).
    */
  private[graft] def contentRanks(spark: SparkSession, dir: String,
                                  maxBasket: Int = 500,
                                  shortlist: Boolean = true): DataFrame = {
    val (holdout, train, capped) = lastItemSplit(spark, dir, maxBasket)
    val prof = userProfiles(spark, dir, train)
    val items = ScratchCache.materialize(capped.select(col("item_id")).distinct()
      .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        col("item_id") === col("vec_id"))
      .select(col("item_id"), col("embedding")))
    val scored = ScratchCache.materialize(
      if (shortlist) shortlistScores(spark, dir, prof, items, train)
      else exactScores(spark, dir, prof, items, train))
    ranksOf(holdout, scored)
  }

  /** Leave-last-out hit-rate@K for the CONTENT (embedding-profile)
    * recommender — the evaluation of the reference's actual
    * recommendation path ([[VectorSearch.recommendForUser]]'s
    * mean-of-engaged-items profile, scored by cosine over the
    * engaged-item catalog), where [[recHoldoutEval]] evaluates the
    * behavioral co-visitation path; running both on the same holdout
    * split is the content-vs-collaborative bake-off.
    *
    * This measures the recommender AS SERVED: candidates come from
    * the banded sign-LSH shortlist ([[shortlistScores]] — the same
    * blocking an online profile→item ANN lookup would use), so a
    * holdout the blocking misses counts as a miss, exactly as it
    * would in production. [[exactScores]] remains the spec twin
    * measuring the idealized exhaustive recommender.
    *
    * Scale shape: profiles are a (user, dim) aggregate collapsed to
    * one array row per user; candidate volume is bucket-occupancy ×
    * bands per user, never |users|·|items|; no full-catalog
    * broadcast anywhere.
    */
  def recContentHoldout(spark: SparkSession, dir: String,
                        ks: Seq[Int] = Seq(1, 5, 10),
                        maxBasket: Int = 500): DataFrame = {
    val (holdout, _, _) = lastItemSplit(spark, dir, maxBasket)
    hitsOf(spark, contentRanks(spark, dir, maxBasket, shortlist = true), holdout, ks)
  }

  /** The exact full-catalog twin of [[recContentHoldout]] (spec-only,
    * not surfaced as a query — its broadcast cross-score is the shape
    * the engine refuses to ship at scale).
    */
  private[graft] def recContentHoldoutExact(spark: SparkSession, dir: String,
                                            ks: Seq[Int] = Seq(1, 5, 10),
                                            maxBasket: Int = 500): DataFrame = {
    val (holdout, _, _) = lastItemSplit(spark, dir, maxBasket)
    hitsOf(spark, contentRanks(spark, dir, maxBasket, shortlist = false), holdout, ks)
  }

  /** Aggregate-diversity report for the co-visitation recommender:
    * what fraction of the catalog ever appears in a top-N list
    * (coverage), and how concentrated the slots are — the
    * most-recommended item's share and the top-decile share (Adomavicius
    * & Kwon 2012's aggregate-diversity lens; a recommender can score
    * high hit-rate while only ever surfacing bestsellers, which
    * [[recHoldoutEval]] alone would never show). Inputs are
    * [[Analytics.itemCooccurrence]]'s top-N lists; every metric is an
    * exact integer ratio over the bounded |items|×N slot frame,
    * rounded once. The decile cut is ceil(|distinct recs|/10) items by
    * slot count, folded over the (slot-count, multiplicity) histogram
    * (the [[Analytics.engagementGini]] shape) so the only window runs
    * over the bounded distinct-count frame — tied items share a slot
    * count, so the top-K sum is identical to a ranked cut.
    */
  def recCoverage(spark: SparkSession, dir: String, topN: Int = 5): DataFrame = {
    val recs = Analytics.itemCooccurrence(spark, dir, topN)
      .select(col("item_id"), col("rec_item_id"))
    val catalog = recs.select(col("item_id")).distinct()
      .agg(count(lit(1)).as("n_catalog"))
    val slots = recs.groupBy(col("rec_item_id")).agg(count(lit(1)).as("n_slots"))
    val totals = slots.agg(count(lit(1)).as("n_recommended"),
      sum(col("n_slots")).as("total_slots"),
      max(col("n_slots")).as("max_slots"))
    val hist = slots.groupBy(col("n_slots")).agg(count(lit(1)).as("m"))
    val wh = Window.orderBy(col("n_slots").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val decile = hist
      .withColumn("before", coalesce(sum(col("m")).over(wh), lit(0L)))
      .crossJoin(broadcast(totals))
      .select(col("n_slots"), expr(
        "greatest(0L, least(m, cast(ceil(n_recommended / 10.0) AS BIGINT) - before))").as("take"))
      .agg(sum(col("n_slots") * col("take")).as("decile_slots"))
    totals
      .crossJoin(broadcast(decile))
      .crossJoin(broadcast(catalog))
      .select(col("n_catalog"), col("n_recommended"),
        round(col("n_recommended") / col("n_catalog"), 5).as("coverage"),
        col("total_slots"),
        round(col("max_slots") / col("total_slots"), 5).as("max_item_share"),
        round(col("decile_slots") / col("total_slots"), 5).as("top_decile_share"))
  }

  /** Next-item training windows — the sequential-recommender data
    * prep (GRU4Rec/SASRec convention: per user, every interaction
    * from position 2 on becomes a (context, target) training row,
    * context = the up-to-`window` items immediately before it in
    * chronological order). Context ships as a ':'-joined string, the
    * schema any engine compares byte-for-byte and a tokenizer splits
    * trivially — no array column in the contract. The sequence order
    * key is (ts_ms, event_id), unique by construction, so the corpus
    * is deterministic; users with more than `maxSeq` item events are
    * dropped whole (the bot cap — a 10k-event scraper would otherwise
    * contribute 10k training rows of noise).
    *
    * Scale shape: one events scan, a per-user length aggregate for
    * the cap, and two per-user windows (row_number + the bounded
    * rows-between context frame) — all partitioned by user_id and
    * bounded by maxSeq after the cap; output ∝ interactions, never
    * users², and the windows never plan unpartitioned.
    */
  def seqPrep(spark: SparkSession, dir: String, window: Int = 5,
              maxSeq: Int = 200): DataFrame = {
    val ev = Tables.events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"),
        col("ts_ms"), col("event_id"))
      .where(col("item_id").isNotNull)
    val n = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val capped = ev.join(n.where(col("n") <= maxSeq), Seq("user_id"))
    val wu = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    capped
      .withColumn("pos", row_number().over(wu).cast("long"))
      .withColumn("ctx_items", collect_list(col("item_id"))
        .over(wu.rowsBetween(-window, -1)))
      .where(col("pos") >= 2)
      .select(col("user_id"), col("pos"), col("item_id").as("target_item"),
        array_join(col("ctx_items"), ":").as("ctx"),
        size(col("ctx_items")).cast("long").as("ctx_len"))
      .orderBy(col("user_id"), col("pos"))
  }

  /** User-user collaborative filtering (the classic GroupLens/
    * Resnick-style neighborhood recommender, the memory-based
    * counterpart of [[Analytics.itemCooccurrence]]'s item-item view):
    * for each target user, the `nNbrs` most similar users by cosine
    * over binary interaction vectors, then candidate items scored by
    * the summed similarity of the neighbors who engaged them (the
    * target's own items excluded), top `k` per target.
    *
    * Similarity is INTEGER-scaled — `⌊co·10⁵/√(na·nb)⌋` with co/na/nb
    * exact interaction counts — so neighbor ranking and the
    * summed-similarity item scores are exact BIGINT arithmetic end to
    * end: no float-summation-order drift between engines (IEEE sqrt
    * is correctly rounded on both; everything after the floor is
    * integer). Ties break toward the smaller neighbor/item id.
    *
    * Scale shape: baskets capped to [2, maxBasket] on BOTH sides and
    * items hotter than `maxItemDf` users dropped from the similarity
    * join (df-capped blocking — a head item co-rated by everyone
    * carries no neighborhood signal and would otherwise emit df²
    * pairs), so per-user pair volume is ≤ basket·maxItemDf. The
    * mod-sampled target batch stands in for the nightly full sweep,
    * which shards the identical plan over all users. Neighbor lists
    * and rec lists are WindowGroupLimit top-n per user — no global
    * rank anywhere.
    */
  def recUserCfTopK(spark: SparkSession, dir: String, queryMod: Int = 50,
                    nNbrs: Int = 20, k: Int = 10, maxBasket: Int = 500,
                    maxItemDf: Int = 200): DataFrame = {
    val ui = Tables.events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"))
      .where(col("item_id").isNotNull)
      .distinct()
    val bk = ui.groupBy(col("user_id")).agg(count(lit(1)).as("basket"))
    val capped = ScratchCache.materialize(ui.join(
      bk.where(col("basket") >= 2 && col("basket") <= maxBasket), Seq("user_id")))
    val cold = ScratchCache.materialize(
      capped.join(
        capped.groupBy(col("item_id")).agg(count(lit(1)).as("df"))
          .where(col("df") <= maxItemDf).select(col("item_id")),
        Seq("item_id")))
    val targets = cold.where(col("user_id") % queryMod === 0)
      .select(col("user_id").as("u"), col("item_id"), col("basket").as("na"))
    val sims = targets
      .join(cold.select(col("item_id"), col("user_id").as("v"), col("basket").as("nb")),
        Seq("item_id"))
      .where(col("u") =!= col("v"))
      .groupBy(col("u"), col("v"), col("na"), col("nb"))
      .agg(count(lit(1)).as("co"))
      .select(col("u"), col("v"),
        floor(col("co") * lit(100000L) / sqrt((col("na") * col("nb")).cast("double")))
          .cast("long").as("sim_scaled"))
    val wN = Window.partitionBy(col("u")).orderBy(col("sim_scaled").desc, col("v"))
    val nbrs = ScratchCache.materialize(
      sims.withColumn("rk", row_number().over(wN)).where(col("rk") <= nNbrs)
        .select(col("u"), col("v"), col("sim_scaled")))
    val wK = Window.partitionBy(col("u")).orderBy(col("score_scaled").desc, col("rec_item"))
    nbrs
      .join(capped.select(col("user_id").as("v"), col("item_id").as("rec_item")), Seq("v"))
      .join(capped.select(col("user_id").as("u"), col("item_id").as("rec_item")),
        Seq("u", "rec_item"), "left_anti")
      .groupBy(col("u"), col("rec_item"))
      .agg(sum(col("sim_scaled")).as("score_scaled"), count(lit(1)).as("n_nbrs"))
      .withColumn("rank", row_number().over(wK).cast("long"))
      .where(col("rank") <= k)
      .select(col("u").as("user_id"), col("rank"), col("rec_item"),
        col("score_scaled"), col("n_nbrs"))
      .orderBy(col("user_id"), col("rank"))
  }

  /** Leave-last-out eval of the FIRST-ORDER MARKOV next-item
    * recommender — the sequence-model baseline next to
    * [[recHoldoutEval]]'s co-visitation and [[recContentHoldout]]'s
    * content scoring (every sequential recommender paper benchmarks
    * against exactly this chain; if GRU4Rec-shaped training data from
    * [[seqPrep]] can't beat it, the model isn't learning order). Per
    * user the SEQUENCE of item events (not the distinct basket) is
    * ordered by the unique (ts_ms, event_id) key; the final
    * transition (second-to-last item → last item) is the test case,
    * the transition matrix trains on all consecutive pairs STRICTLY
    * BEFORE it (the held-out hop contributes zero counts — no
    * leakage), and the prediction is the trained argmax successor
    * (count DESC, item ASC). One summary row reports eligible users,
    * scored users (their previous item was seen as a train source —
    * the model's coverage), hits, hit rate over scored, and coverage.
    *
    * Scale shape: users over `maxEvents` item-events drop before the
    * window ([[Graph.itemFlowHits]]' bot cut); one lead()/row_number()
    * window pass builds pairs and test hops, the matrix is an
    * item-pair-keyed count aggregate, the argmax a window over that
    * bounded frame, and the eval one broadcast-model join. All counts
    * exact BIGINTs; the two ratios round once each.
    */
  def recMarkovNext(spark: SparkSession, dir: String,
                    maxEvents: Int = 2000): DataFrame = {
    val ev = Tables.events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"))
      .where(col("item_id").isNotNull)
    val cnt = ev.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val seq = ScratchCache.materialize(
      ev.join(cnt.where(col("c") >= 2 && col("c") <= maxEvents), Seq("user_id"))
        .withColumn("nxt", lead(col("item_id"), 1).over(w))
        .withColumn("rn", row_number().over(w))
        .where(col("nxt").isNotNull)
        .select(col("user_id"), col("item_id").as("src"), col("nxt").as("dst"),
          col("rn"), col("c")))
    // the user's final hop is rn = c - 1; everything before it trains
    val model = seq.where(col("rn") < col("c") - 1)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    val wArg = Window.partitionBy(col("src")).orderBy(col("n").desc, col("dst"))
    val pred = model.withColumn("rk", row_number().over(wArg))
      .where(col("rk") === 1).select(col("src"), col("dst").as("pred"))
    val test = seq.where(col("rn") === col("c") - 1)
      .select(col("user_id"), col("src"), col("dst"))
    test.join(broadcast(pred), Seq("src"), "left_outer")
      .agg(count(lit(1)).as("n_users"),
        count(col("pred")).as("n_scored"),
        count(when(col("pred") === col("dst"), 1)).as("n_hits"))
      .select(col("n_users"), col("n_scored"), col("n_hits"),
        when(col("n_scored") === 0, lit(0.0))
          .otherwise(round(col("n_hits") / col("n_scored"), 5)).as("hit_rate"),
        round(col("n_scored") / col("n_users"), 5).as("coverage"))
  }

  /** Integer scale shared by the ALS factor pipeline: factors live as
    * BIGINT `round(f · 10⁵)` so every Gram/moment sum below is exact
    * integer arithmetic — the [[recUserCfTopK]] discipline extended to
    * a trained model.
    */
  private val AlsScale = 100000L

  /** λ = 0.1 at factor-scale² (the ridge term added to both Gram
    * diagonal entries, already in the a11/a22 units of scaled sums).
    */
  private val AlsLamS2 = 1000000000L

  /** Factor clamp at ±50.0 real units (±5·10⁶ scaled): the projection
    * step practical ALS runs for numeric stability. It bounds each
    * Gram TERM at 2.5·10¹³, so the per-key sums — accumulated in
    * DECIMAL(38,0) ↔ the oracle's HUGEINT — stay exact at any per-key
    * interaction count (a BIGINT accumulator would wrap silently above
    * ~3.7·10⁵ rating rows on one key, i.e. one very popular item).
    */
  private val AlsClamp = 5000000L

  /** Implicit-feedback interaction counts (user, item, r): event count
    * per pair capped at 20 — the confidence cap implicit-ALS papers
    * apply so a scraper replaying one item 10⁴ times doesn't dominate
    * its user's normal-equation row.
    */
  private[graft] def alsInteractions(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"),
        col("ts_ms"))
      .where(col("item_id").isNotNull)

  private def ratingsOf(inter: DataFrame): DataFrame =
    ScratchCache.materialize(inter
      .groupBy(col("user_id"), col("item_id"))
      .agg(least(count(lit(1)), lit(20L)).as("r")))

  /** The full-corpus capped rating table as a BUILD-ONCE persisted
    * artifact keyed by the events fingerprint (guide §1.2: four
    * declared queries — recAlsTopK, alsItemSimilar, alsFitReport,
    * alsFoldIn's full side — each re-ran the events scan + distinct
    * groupBy; at 100 TB the interaction matrix is a feature-store
    * table refreshed with the log, not a query-time recompute).
    * Exact-integer content (longs), so the parquet round-trip is
    * bit-identical to the inline aggregate it replaces.
    */
  private def alsRatings(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.IndexStore.indexPath(spark, "alsr_v1",
      s"$dir/events.parquet", "c20")
    graft.sources.IndexStore.publish(spark, path) { tmp =>
      alsInteractions(spark, dir)
        .groupBy(col("user_id"), col("item_id"))
        .agg(least(count(lit(1)), lit(20L)).as("r"))
        .write.mode("overwrite").parquet(s"$tmp/r")
    }
    graft.sources.IndexStore.open(spark, s"$path/r")
  }

  /** BUILD-ONCE persisted rank-2 model (the [[graft.operators.Ivf]]/
    * [[graft.operators.Lsh]] artifact discipline applied to the
    * TRAINED recommender): factor tables publish atomically per
    * (events fingerprint, iters, ratings-variant key) and every
    * serving/eval query opens them instead of re-running the
    * alternating solves — exactly how production ALS serves (nightly
    * train job, immutable factor snapshot). Factors are scaled longs,
    * so the parquet round-trip is bit-identical to the in-session
    * frames.
    */
  private def alsModel(spark: SparkSession, dir: String, iters: Int,
                       key: String)(ratings: => DataFrame): (DataFrame, DataFrame) = {
    val path = graft.sources.IndexStore.indexPath(spark, "als_v1",
      s"$dir/events.parquet", s"i${iters}_$key")
    graft.sources.IndexStore.publish(spark, path) { tmp =>
      val (p, q) = alsFactorsOf(ratings, iters)
      p.write.mode("overwrite").parquet(s"$tmp/p")
      q.write.mode("overwrite").parquet(s"$tmp/q")
    }
    (graft.sources.IndexStore.open(spark, s"$path/p"),
      graft.sources.IndexStore.open(spark, s"$path/q"))
  }

  /** One ALS half-step: solve the 2×2 ridge normal equations for every
    * `keyA` given the other side's factors `g` on `keyB`. All Gram and
    * moment sums are exact BIGINT folds over scaled factors; the
    * Cramer solve is ONE fixed double expression tree over those exact
    * integers (deterministic on any IEEE engine — no row-order-
    * dependent float summation anywhere), and the result re-quantizes
    * via `floor(x·10⁵ + 0.5)` then clamps. The oracle replays the
    * identical tree.
    */
  private def alsSolve(ratings: DataFrame, keyA: String, keyB: String,
                       g: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // Gram/moment sums accumulate in DECIMAL(38,0) — the oracle's
    // HUGEINT — because a single hot key's BIGINT sum of 2.5·10¹³-
    // sized squares would wrap above ~3.7·10⁵ rows (alsFitReport's
    // sse discipline)
    def dsum(c: Column) = sum(c.cast(DecimalType(38, 0)))
    val agg = ratings.join(g, keyB)
      .groupBy(col(keyA))
      .agg(dsum(col("f1") * col("f1")).as("a11i"),
        dsum(col("f1") * col("f2")).as("a12i"),
        dsum(col("f2") * col("f2")).as("a22i"),
        (dsum(col("r") * col("f1")) * AlsScale).as("b1i"),
        (dsum(col("r") * col("f2")) * AlsScale).as("b2i"))
    val a11 = (col("a11i") + AlsLamS2).cast("double")
    val a12 = col("a12i").cast("double")
    val a22 = (col("a22i") + AlsLamS2).cast("double")
    val b1 = col("b1i").cast("double")
    val b2 = col("b2i").cast("double")
    val det = a11 * a22 - a12 * a12
    def quant(x: Column): Column = least(greatest(
      floor(x * AlsScale.toDouble + 0.5).cast("long"), lit(-AlsClamp)), lit(AlsClamp))
    agg.select(col(keyA),
      quant((b1 * a22 - b2 * a12) / det).as("f1"),
      quant((a11 * b2 - a12 * b1) / det).as("f2"))
  }

  /** Rank-2 ALS over the implicit interaction counts — the matrix-
    * factorization recommender itself (Koren/Bell/Volinsky 2009; the
    * model-based counterpart of [[recUserCfTopK]]'s memory-based
    * neighbors, the one classical recommender family the co-visitation
    * / content / Markov trio doesn't cover). Item factors initialize
    * from the md5 hash of the item id (uniform in [0,1) at 10⁻⁵
    * granularity — deterministic, replayed exactly by the oracle), and
    * `iters` full sweeps alternate closed-form ridge solves: users
    * from item factors, items from user factors.
    *
    * Rank 2 is the determinism contract, not a library limit: a 2×2
    * Cramer solve is ONE branch-free expression tree both engines
    * evaluate bit-identically over the exact integer Gram sums, which
    * is what makes a trained model hard-oracle-able at all. The same
    * alternating-solve plan generalizes to rank k with a per-group
    * k×k solve (MLlib's ALS block layout); everything around it —
    * caps, scaling, join shapes — is rank-independent.
    *
    * Scale shape: each half-step is one equi-join of the interaction
    * table with the (bounded, key-addressed) factor table followed by
    * a keyed integer aggregate — shuffle on user_id/item_id exactly
    * like every production ALS; factors are never broadcast or
    * collected; iteration count is a small constant so the unrolled
    * plan stays linear (each step ScratchCache-materialized).
    * Returns (userFactors(user_id, f1, f2), itemFactors(item_id, f1,
    * f2)) at scale 10⁵.
    */
  private[graft] def alsFactors(spark: SparkSession, dir: String,
                                iters: Int = 2): (DataFrame, DataFrame) =
    alsModel(spark, dir, iters, "full")(alsRatings(spark, dir))

  /** [[alsFactors]] over an arbitrary (user_id, item_id, r) ratings
    * frame — the piece the fold-in shares with the full build.
    */
  private[graft] def alsFactorsOf(r: DataFrame,
                                  iters: Int = 2): (DataFrame, DataFrame) = {
    require(iters >= 1 && iters <= 4, s"iters must be in [1, 4]: $iters")
    val q0 = r.select(col("item_id")).distinct()
      .select(col("item_id"),
        (conv(substring(md5(concat(lit("alsq1:"), col("item_id").cast("string"))),
          1, 8), 16, 10).cast("long") % AlsScale).as("f1"),
        (conv(substring(md5(concat(lit("alsq2:"), col("item_id").cast("string"))),
          1, 8), 16, 10).cast("long") % AlsScale).as("f2"))
    var q = ScratchCache.materialize(q0)
    var p: DataFrame = null
    for (_ <- 1 to iters) {
      p = ScratchCache.materialize(alsSolve(r, "user_id", "item_id", q))
      q = ScratchCache.materialize(alsSolve(r, "item_id", "user_id", p))
    }
    (p, q)
  }

  /** ALS top-k recommendations for the mod-sampled target users:
    * score = p·q as an exact BIGINT dot of scaled factors (ties toward
    * the smaller item id), the user's own interacted items excluded.
    * The catalog-factor side is a |items|-row bounded frame (items are
    * a catalog, not a corpus — broadcast-joinable at any corpus scale;
    * a 10⁹-item catalog swaps this exact-scoring join for the
    * [[shortlistScores]] LSH blocking over factor space, same contract).
    * The mod-sampled batch stands in for the nightly full sweep, which
    * shards the identical plan over all users.
    */
  def recAlsTopK(spark: SparkSession, dir: String, queryMod: Int = 50,
                 k: Int = 5, iters: Int = 2): DataFrame = {
    val (p, q) = alsFactors(spark, dir, iters)
    val r = alsRatings(spark, dir)
    val targets = p.where(col("user_id") % queryMod === 0)
      .select(col("user_id"), col("f1").as("p1"), col("f2").as("p2"))
    val items = q.select(col("item_id"), col("f1").as("q1"), col("f2").as("q2"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("score_scaled").desc, col("item_id"))
    targets
      .crossJoin(broadcast(items))
      .join(r.select(col("user_id"), col("item_id")),
        Seq("user_id", "item_id"), "left_anti")
      .select(col("user_id"), col("item_id"),
        (col("p1") * col("q1") + col("p2") * col("q2")).as("score_scaled"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("user_id"), col("rank"), col("item_id"), col("score_scaled"),
        round(col("score_scaled") / lit(1.0e10), 5).as("score"))
      .orderBy(col("user_id"), col("rank"))
  }

  /** ALS item-item similarity — "similar items" served from the
    * TRAINED factor space (the model-based twin of the embedding
    * [[VectorSearch]] item-similar and the behavioral
    * [[Analytics.itemCooccurrence]]: two items are similar when the
    * factorization maps them near each other, which captures
    * co-preference even for item pairs no single user co-engaged).
    * Score = exact BIGINT dot of scaled item factors (ties toward the
    * smaller neighbor id), mod-sampled query items, self excluded,
    * top-k per item under a WindowGroupLimit.
    *
    * Scale shape: the factor table is catalog-sized — the sampled
    * query side joins against it broadcast; at a 10⁹-item catalog
    * this becomes the [[shortlistScores]] LSH blocking over factor
    * space, same contract.
    */
  def alsItemSimilar(spark: SparkSession, dir: String, queryMod: Int = 10,
                     k: Int = 5, iters: Int = 2): DataFrame = {
    val (_, q) = alsFactors(spark, dir, iters)
    val items = q.select(col("item_id"), col("f1"), col("f2"))
    val targets = items.where(col("item_id") % queryMod === 0)
      .select(col("item_id"), col("f1").as("t1"), col("f2").as("t2"))
    val w = Window.partitionBy(col("item_id"))
      .orderBy(col("score_scaled").desc, col("sim_item"))
    targets
      .crossJoin(broadcast(items.select(col("item_id").as("sim_item"),
        col("f1").as("s1"), col("f2").as("s2"))))
      .where(col("item_id") =!= col("sim_item"))
      .select(col("item_id"), col("sim_item"),
        (col("t1") * col("s1") + col("t2") * col("s2")).as("score_scaled"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("item_id"), col("rank"), col("sim_item"), col("score_scaled"))
      .orderBy(col("item_id"), col("rank"))
  }

  /** ALS incremental fold-in — model maintenance without a refit (the
    * standard serving move: item factors are stable day to day, so a
    * nightly batch of new interactions only needs the AFFECTED users'
    * 2×2 ridge solves re-run against the FROZEN item factors — new
    * users get their first factors the same way, which is exactly how
    * cold-start fold-in works in production ALS). The batch is the
    * corpus's last `batchDays` of events (a corpus fact); the base
    * model trains on everything strictly before it. Output per
    * affected user: the base factors (NULL for a brand-new user), the
    * folded-in factors from the user's FULL rating row against the
    * base item factors (NULL when EVERY item the user rated is itself
    * absent from the base model — nothing to solve against until the
    * next refit), and the exact integer L1 factor delta — the
    * drift table a serving layer uses to decide which cached user
    * vectors to invalidate.
    *
    * Scale shape: the base build is [[alsFactorsOf]]; the fold-in
    * itself is ONE [[alsSolve]] restricted (semi-join) to the affected
    * users — cost ∝ the batch's users' ratings, never the corpus; the
    * model never collects.
    */
  def alsFoldIn(spark: SparkSession, dir: String, iters: Int = 2,
                batchDays: Int = 1): DataFrame = {
    val inter = alsInteractions(spark, dir)
    val sp = inter.agg((max(col("ts_ms")) - batchDays * 86400000L).as("split"))
    val withSplit = inter.crossJoin(broadcast(sp))
    val baseR = ratingsOf(withSplit.where(col("ts_ms") < col("split"))
      .select(col("user_id"), col("item_id")))
    val fullR = alsRatings(spark, dir)
    val affected = ScratchCache.materialize(
      withSplit.where(col("ts_ms") >= col("split"))
        .select(col("user_id")).distinct())
    // the frozen base model is itself a build-once artifact (the
    // nightly snapshot the fold-in is DEFINED against); keyed by the
    // split horizon, which is a pure function of the corpus
    val (pBase, qBase) = alsModel(spark, dir, iters, s"base_d$batchDays")(baseR)
    val newP = alsSolve(fullR.join(affected, Seq("user_id"), "left_semi"),
      "user_id", "item_id", qBase)
    driftTable(affected, newP, pBase)
  }

  /** The fold-in drift-table assembly [[alsFoldIn]] and
    * [[alsFoldInDelta]] share. Spine = the affected users, not the
    * solve output: a user whose ratings touch ONLY items absent from
    * the frozen base model (all brand-new items) yields no solvable
    * rows — the fold-in can't place them until the next full refit,
    * and the drift table must SAY so (NULL new factors) rather than
    * silently drop the row.
    */
  private def driftTable(affected: DataFrame, newP: DataFrame,
                         pBase: DataFrame): DataFrame =
    affected
      .join(newP.select(col("user_id"), col("f1").as("new_f1"),
        col("f2").as("new_f2")), Seq("user_id"), "left_outer")
      .join(pBase.select(col("user_id"), col("f1").as("old_f1"),
        col("f2").as("old_f2")), Seq("user_id"), "left_outer")
      .select(col("user_id"), col("old_f1"), col("old_f2"),
        col("new_f1"), col("new_f2"),
        (abs(col("new_f1") - col("old_f1")) +
          abs(col("new_f2") - col("old_f2"))).as("l1_delta"))
      .orderBy(col("user_id"))

  /** ALS fold-in for an ARBITRARY batch of new interactions — the
    * core [[alsFoldIn]]'s corpus-split readout and the STREAMING twin
    * ([[graft.streaming.AlsStreams]]) share: the base model is the
    * frozen full-corpus factorization, `newInter` (user_id, item_id)
    * is the incoming batch, and each affected user's factors re-solve
    * from their corpus ratings MERGED with the batch rows (same
    * count-capped rating rule) against the frozen item factors. Same
    * drift-table schema as [[alsFoldIn]].
    *
    * Scale shape: base build is the memoized [[alsFactors]]; the merge
    * is one semi-join of corpus interactions to the batch's users
    * (cost ∝ those users' history, never the corpus) plus the batch
    * itself; one bounded 2×2 solve per affected user.
    */
  def alsFoldInDelta(spark: SparkSession, dir: String, newInter: DataFrame,
                     iters: Int = 2): DataFrame = {
    val (pBase, qBase) = alsFactors(spark, dir, iters)
    val affected = ScratchCache.materialize(
      newInter.select(col("user_id")).distinct())
    val merged = alsInteractions(spark, dir)
      .select(col("user_id"), col("item_id"))
      .join(affected, Seq("user_id"), "left_semi")
      .unionByName(newInter.select(col("user_id"), col("item_id")))
    val newP = alsSolve(ratingsOf(merged), "user_id", "item_id", qBase)
    driftTable(affected, newP, pBase)
  }

  /** ALS fit report — did the factorization learn anything: training
    * RMSE of the rank-2 model vs the global-mean baseline on the same
    * observed pairs (a model that can't beat predicting r̄ everywhere
    * learned nothing; with two factors against capped implicit counts
    * it should roughly halve it). The residual e = r·10¹⁰ − p·q is an
    * exact scaled BIGINT per pair; Σe² accumulates in DECIMAL(38,0)
    * (order-free exact integer sum — the one way a sum of 10²⁷-sized
    * squares is engine-portable), and both RMSEs evaluate as single
    * fixed expression trees over exact integer aggregates.
    */
  def alsFitReport(spark: SparkSession, dir: String, iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val (p, q) = alsFactors(spark, dir, iters)
    val r = alsRatings(spark, dir)
    val s2 = AlsScale * AlsScale
    val e = r
      .join(p.select(col("user_id"), col("f1").as("p1"), col("f2").as("p2")), Seq("user_id"))
      .join(q.select(col("item_id"), col("f1").as("q1"), col("f2").as("q2")), Seq("item_id"))
      .select(col("user_id"), col("item_id"), col("r"),
        (col("r") * s2 - (col("p1") * col("q1") + col("p2") * col("q2"))).as("e"))
    e.agg(
      Scale.distinctCount(spark, col("user_id")).as("n_users"),
      Scale.distinctCount(spark, col("item_id")).as("n_items"),
      count(lit(1)).as("nnz"),
      sum(col("r")).as("sr"), sum(col("r") * col("r")).as("sr2"),
      sum((col("e").cast(DecimalType(38, 0)) * col("e").cast(DecimalType(38, 0)))
        .cast(DecimalType(38, 0))).as("sse"))
      .select(col("n_users"), col("n_items"), col("nnz"),
        round(sqrt((col("sr2").cast("double") -
          col("sr").cast("double") * col("sr").cast("double") / col("nnz").cast("double"))
          / col("nnz").cast("double")), 5).as("rmse_mean"),
        round(sqrt(col("sse").cast("double") / col("nnz").cast("double"))
          / lit(1.0e10), 5).as("rmse_model"))
  }

  /** Popularity-baseline hit-rate@K — the sanity FLOOR every
    * recommender eval needs beside it (a personalized model that
    * can't beat "recommend what's popular" isn't learning anything):
    * the same leave-last-out split as [[recHoldoutEval]], items
    * ranked by global train interaction count (ties → lower item id),
    * each user's already-trained items excluded from their list.
    *
    * Scale design — the whole point of this formulation: the
    * user-specific top-K provably lives inside the GLOBAL top
    * (K + maxBasket) list (excluding a user's ≤ maxBasket train items
    * pushes deeper items up by at most maxBasket positions), so the
    * ranking is ONE TakeOrdered of (pop DESC, item) into a ≤510-row
    * broadcast — never a global rank window over the catalog (the
    * ui_matrix_stats lesson). Per user, the holdout's effective rank
    * = its global position minus how many of the user's OWN train
    * items sit above it — one broadcast join + one count. A holdout
    * item outside the global list cannot be inside any user's top-K
    * (K ≤ list − maxBasket) → a miss, exactly.
    *
    * Counts are exact integers; the only float is the final rounded
    * hit rate. n_users counts every eligible holdout user, misses
    * included, matching [[recHoldoutEval]]'s denominator convention.
    */
  def recPopularityBaseline(spark: SparkSession, dir: String,
                            ks: Seq[Int] = Seq(1, 5, 10),
                            maxBasket: Int = 500): DataFrame = {
    require(ks.nonEmpty && ks.max <= 10, s"ks must be <= 10: $ks")
    // the identical leave-last-out rule as every other holdout eval —
    // served from the shared persisted split artifact (this method
    // previously re-derived the same split inline)
    val (holdout, train0, _) = lastItemSplit(spark, dir, maxBasket)
    val train = ScratchCache.materialize(train0)
    // global popularity list, cut at K_max + maxBasket via TakeOrdered;
    // positions assigned on the driver (bounded rows — the
    // label_centroids driver-literal convention, no rank window)
    val listLen = ks.max + maxBasket
    import spark.implicits._
    val top = train.groupBy(col("item_id"))
      .agg(count(lit(1)).as("pop"))
      .orderBy(col("pop").desc, col("item_id"))
      .limit(listLen)
      .collect().map(_.getLong(0))
    val glist = broadcast(
      top.zipWithIndex.map { case (it, i) => (it, i + 1L) }.toSeq
        .toDF("item_id", "gpos"))
    // holdout's global position (absent => miss), minus the user's own
    // train items ranked above it
    val hpos = holdout.join(glist.withColumnRenamed("item_id", "h"), Seq("h"))
      .select(col("user_id"), col("h"), col("gpos").as("gpos_h"))
    val own = hpos.join(train, Seq("user_id"))
      .join(glist, Seq("item_id"))
      .groupBy(col("user_id"), col("gpos_h"))
      .agg(count(when(col("gpos") < col("gpos_h"), 1)).as("own_above"))
    val ranks = hpos.join(own, Seq("user_id", "gpos_h"), "left_outer")
      .select(col("user_id"),
        (col("gpos_h") - coalesce(col("own_above"), lit(0L))).as("rank"))
    val nUsers = holdout.agg(count(lit(1)).as("n_users"))
    ranks
      .select(explode(typedlit(ks.map(_.toLong))).as("k"), col("rank"))
      .groupBy(col("k"))
      .agg(count(when(col("rank") <= col("k"), 1)).as("n_hits"))
      .join(ks.map(_.toLong).toDF("k"), Seq("k"), "right_outer")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .crossJoin(broadcast(nUsers))
      .select(col("k"), col("n_users"), col("n_hits"),
        round(col("n_hits") / col("n_users"), 5).as("hit_rate"))
      .orderBy(col("k"))
  }
}
