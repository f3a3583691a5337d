package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** Deduplication operators for large-scale corpus curation.
  *
  * None of these ever materializes the O(n²) pair space: every
  * near-dup variant generates candidates through an equi-join on a
  * blocking key (shared shingle, LSH band bucket, simhash chunk,
  * cluster label) so the shuffle is keyed by bucket, and only
  * candidate pairs are verified exactly.
  */
object Dedup {

  /** Session-lifetime cached intermediates (shingle sets, minhash
    * signatures): pinned [[graft.sources.DriverMemo]] frames keyed by
    * kind|dir|params and stamped with the corpus FINGERPRINT, so the
    * expensive explode/digest passes are cached once and REUSED across
    * invocations, and a regenerated corpus replaces its stale entry.
    * [[clearCaches]] releases them explicitly.
    */
  private def memoized(spark: SparkSession, logicalKey: String, fingerprint: String)
                      (build: => DataFrame): DataFrame =
    graft.sources.DriverMemo.pinned(spark, s"dedup|$logicalKey", fingerprint)(build)

  private def corpusKey(spark: SparkSession, dir: String): String =
    graft.sources.IndexStore.fingerprint(spark, s"$dir/documents.parquet")

  /** The distinct (doc_id, shingle) posting frame as a BUILD-ONCE
    * fingerprint-addressed parquet artifact (the [[TextRetrieval]]
    * model convention): every near-dup / decontamination query reads
    * the persisted postings instead of re-running the explode +
    * distinct shuffle per call — at 100 TB the shingle table is a
    * feature-store artifact refreshed with the corpus, never a
    * query-time recompute. The in-memory memo layer on top only
    * avoids re-reading parquet within a burst of queries.
    */
  private def cachedShingles(spark: SparkSession, dir: String, n: Int): DataFrame =
    memoized(spark, s"sh|$dir|$n", corpusKey(spark, dir)) {
      val base = graft.sources.IndexStore.indexPath(
        spark, "shingles_v1", s"$dir/documents.parquet", s"n$n")
      graft.sources.IndexStore.publish(spark, base) { tmp =>
        shingles(Tables.documents(spark, dir), n)
          .write.mode("overwrite").parquet(s"$tmp/sh")
      }
      graft.sources.IndexStore.open(spark, s"$base/sh")
    }

  /** The cached shingle frame minus shingles with document frequency
    * above `maxDf` — the anti-skew gate in front of every
    * shingle-keyed self-join (see [[ngramJaccard]]). The hot set
    * (df > cap) is computed by one count over the cached frame and is
    * tiny by construction, so it broadcasts; the common case (no
    * boilerplate above the cap) subtracts nothing.
    */
  /** `frame` minus rows whose `key` value occurs in more than `maxDf`
    * rows — THE anti-skew gate in front of every key-blocked
    * self-join (shingles, winnowing fingerprints). One policy, one
    * implementation: the hot set (df > cap) is tiny by construction
    * and broadcasts; the common case (nothing above the cap)
    * subtracts nothing. Callers pass distinct-per-doc frames, so the
    * count IS document frequency.
    */
  private[graft] def dfCapped(frame: DataFrame, key: String, maxDf: Long): DataFrame = {
    val hot = frame.groupBy(col(key)).agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf).select(col(key))
    frame.join(broadcast(hot), Seq(key), "left_anti")
  }

  private def cappedShingles(spark: SparkSession, dir: String, n: Int, maxDf: Long): DataFrame =
    dfCapped(cachedShingles(spark, dir, n), "shingle", maxDf)

  private def cachedSignatures(spark: SparkSession, dir: String, n: Int, k: Int): DataFrame =
    memoized(spark, s"sig|$dir|$n|$k", corpusKey(spark, dir)) {
      // |docs| rows × k minima — the persisted MinHash index artifact
      val base = graft.sources.IndexStore.indexPath(
        spark, "minhash_sig_v1", s"$dir/documents.parquet", s"n${n}k$k")
      graft.sources.IndexStore.publish(spark, base) { tmp =>
        minhashSignatures(cachedShingles(spark, dir, n), k)
          .write.mode("overwrite").parquet(s"$tmp/sig")
      }
      graft.sources.IndexStore.open(spark, s"$base/sig")
    }

  /** Memoized distinct winnowing fingerprints per doc —
    * [[substringDedup]] reads this frame FIVE times in one query (df
    * agg, anti-join both self-join sides, size agg); without the
    * cache each read re-runs the k-gram explode + per-doc window.
    */
  private def cachedWinnowFps(spark: SparkSession, dir: String, k: Int, w: Int): DataFrame =
    memoized(spark, s"winnow|$dir|$k|$w", corpusKey(spark, dir)) {
      val base = graft.sources.IndexStore.indexPath(
        spark, "winnow_v1", s"$dir/documents.parquet", s"k${k}w$w")
      graft.sources.IndexStore.publish(spark, base) { tmp =>
        TextAnalysis.winnowed(spark, dir, k, w).select(col("doc_id"), col("sel")).distinct()
          .write.mode("overwrite").parquet(s"$tmp/fp")
      }
      graft.sources.IndexStore.open(spark, s"$base/fp")
    }

  /** Driver-side twin of [[md5Long64]]: the signed little-endian
    * reading of the first 8 md5 bytes of a UTF-8 string — DuckDB's
    * `md5_number_upper` value. One hash definition across driver,
    * executors, and the external oracle.
    */
  private[graft] def md5Le64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    (0 to 7).map(k => (d(k).toLong & 0xffL) << (8 * k)).reduce(_ | _)
  }

  /** Deterministic ±1 (Rademacher) hyperplanes for the near-dup LSH
    * blocking: component (band, bit, dim i) is +1 when the low bit of
    * md5Le64("band:bit:i") is set. Sign-LSH needs only a symmetric
    * component distribution (Charikar's simhash draws ±1 projections),
    * and a HASH-derived plane makes the whole blocking structure —
    * bucket assignment, candidate set, final pairs — re-derivable by
    * the external DuckDB oracle, which a seeded java.util.Random
    * gaussian (the ANN-family planes in [[Lsh]]) never can be. The
    * plane table is nBands·bitsPerBand rows and broadcasts.
    */
  private[graft] def rademacherPlane(band: Int, bit: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i => if ((md5Le64(s"$band:$bit:$i") & 1L) == 1L) 1.0 else -1.0 }

  private def cachedBandBuckets(spark: SparkSession, dir: String, nBands: Int,
                                bitsPerBand: Int): DataFrame = {
    val fp = graft.sources.IndexStore.fingerprint(spark, s"$dir/embeddings.parquet")
    memoized(spark, s"bands_md5|$dir|$nBands|$bitsPerBand", fp) {
      // the near-dup LSH table persists like every other index family
      // (|vecs|×nBands rows) — queries read buckets, never re-project
      val base = graft.sources.IndexStore.indexPath(
        spark, "neardup_lsh_v1", s"$dir/embeddings.parquet", s"b${nBands}w$bitsPerBand")
      graft.sources.IndexStore.publish(spark, base) { tmp =>
        import spark.implicits._
        val dim = Lsh.embeddingDim(spark, dir)
        val planes = (for (b <- 0 until nBands; j <- 0 until bitsPerBand) yield
          (b, 1L << j, rademacherPlane(b, j, dim))).toDF("band", "weight", "plane")
        // same one-pass crossJoin + map-side-combined groupBy shape as
        // Lsh.assignBandBuckets; sign convention dot >= 0 → bit set
        Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
          .crossJoin(broadcast(planes))
          .groupBy(col("vec_id"), col("band"))
          .agg(sum(when(dotd(col("embedding"), col("plane")) >= 0, col("weight"))
            .when(dotd(col("embedding"), col("plane")) < 0, lit(0L))).as("bucket"))
          .write.mode("overwrite").parquet(s"$tmp/bb")
      }
      graft.sources.IndexStore.open(spark, s"$base/bb")
    }
  }

  /** Unpersist and drop every memoized intermediate for a session. */
  def clearCaches(spark: SparkSession): Unit =
    graft.sources.DriverMemo.invalidate(spark, "dedup|")

  /** Exact dedup: content hash + keep-first flag per document. */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("hash")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("hash"))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("hash"), (col("rn") > 1).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** Distinct n-token shingles per document (word n-grams): the text
    * splits once per row and [[TextAnalysis.ngrams]] builds the
    * windows. Documents shorter than n tokens yield no shingles
    * (matches the oracle's `range(len-n+1)` semantics on empty ranges).
    */
  def shingles(docs: DataFrame, n: Int = 5): DataFrame =
    // documents arrive as one small parquet split; spread rows so the
    // shingle explode + downstream hashing use every core (results are
    // set-semantic — partitioning cannot change them)
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(TextAnalysis.ngrams(col("toks"), n)).as("shingle"))
      .distinct()

  /** Near-dup pairs by exact n-gram Jaccard, blocked on shared
    * shingles: a pair is only scored if the docs share ≥1 shingle, so
    * candidate generation is a shingle-keyed equi-join (shuffle by
    * shingle), never a cross join.
    *
    * `maxDf` bounds the join's skew: a shingle shared by K documents
    * funnels K² candidate pairs into ONE reducer key, so a single
    * boilerplate 5-gram (a common header/footer) in a 100 TB corpus
    * is a ~10¹²-row reducer — the standard fix (every posting-list
    * system bounds list length the same way) is to DROP shingles with
    * document frequency above the cap before the self-join: a shingle
    * in thousands of documents carries no discrimination, exactly as
    * a stopword carries no TF-IDF weight. The drop applies to the
    * WHOLE measure (sizes and intersections), so jaccard is the exact
    * Jaccard of the df-capped shingle sets — same definition on both
    * engine and oracle. Hot shingles are found by one map-side-combined
    * count over the already-cached shingle frame and removed with a
    * broadcast anti-join (the hot set is tiny by construction — only
    * shingles above the cap ride the broadcast).
    */
  def ngramJaccard(spark: SparkSession, dir: String, n: Int = 5, threshold: Double = 0.8,
                   maxDf: Long = 1000L): DataFrame = {
    val sh = cappedShingles(spark, dir, n, maxDf)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("a_sz")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("b_sz")), "b_id")
      .withColumn("jaccard", round(col("inter") / (col("a_sz") + col("b_sz") - col("inter")), 5))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Dedup-threshold sizing sweep — [[ngramJaccard]]'s knob priced
    * BEFORE a run deletes data: the candidate-pair frame is scored
    * once (no threshold filter), then one conditional aggregate
    * reports, per candidate threshold, the surviving pair count, the
    * documents flagged for removal under the keep-smaller-id
    * convention (each pair flags its larger id — the pair-level bound
    * [[nearDupClusters]]' full CC refines), and the corpus fraction
    * flagged. The table a curation owner reads to pick 0.8 over 0.7
    * with numbers instead of folklore.
    *
    * Scale shape: ONE df-capped shingle self-join (exactly
    * [[ngramJaccard]]'s bounded blocking) feeding a 5-row conditional
    * aggregate — the sweep adds zero joins over running one
    * threshold. Counts exact; the one division per row rounds once.
    */
  def thresholdSweep(spark: SparkSession, dir: String, n: Int = 5,
                     maxDf: Long = 1000L,
                     thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)): DataFrame = {
    val sh = cappedShingles(spark, dir, n, maxDf)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("a_sz")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("b_sz")), "b_id")
      .select(col("b_id"),
        round(col("inter") / (col("a_sz") + col("b_sz") - col("inter")), 5).as("j"))
    val nDocs = Tables.documents(spark, dir).count()
    import spark.implicits._
    // fold the pair frame to two BOUNDED histograms before the
    // threshold grid touches anything: pair counts by (5-decimal) j
    // value, and flagged-doc counts by each doc's MAX j (a doc is
    // flagged at t iff its max pair similarity clears t) — the
    // engagementGini histogram pattern. A conditional countDistinct
    // per threshold instead expands the full pair frame 5x (measured
    // 13.5 s at sf0.1 / 3.8x growth at sf1; this shape is 5x flat).
    val scored = graft.sources.ScratchCache.materialize(pairs)
    val ph = scored.groupBy(col("j")).agg(count(lit(1)).as("np"))
    val bh = scored.groupBy(col("b_id")).agg(max(col("j")).as("mj"))
      .groupBy(col("mj")).agg(count(lit(1)).as("nb"))
    val th = broadcast(thresholds.toDF("threshold"))
    val np = ph.crossJoin(th).groupBy(col("threshold"))
      .agg(coalesce(sum(when(col("j") >= col("threshold"), col("np"))), lit(0L))
        .as("n_pairs"))
    val nb = bh.crossJoin(th).groupBy(col("threshold"))
      .agg(coalesce(sum(when(col("mj") >= col("threshold"), col("nb"))), lit(0L))
        .as("n_docs_flagged"))
    np.join(nb, Seq("threshold"))
      .withColumn("pct_corpus_flagged",
        round(col("n_docs_flagged") / lit(nDocs.toDouble), 5))
      .orderBy(col("threshold"))
  }

  /** Cross-document boilerplate n-grams: the shingles that recur in at
    * least `minDf` distinct documents (headers, footers, license
    * blurbs, template fragments — C4/Gopher-style curation looks for
    * exactly these before near-dup scoring, because boilerplate both
    * inflates pair similarity and pollutes training text). Shorter
    * shingles than the dedup default (n=3) because boilerplate phrases
    * repeat at phrase length, not paragraph length.
    *
    * Scale shape: the cached distinct-per-doc shingle frame → one
    * map-side-combined count per shingle → global top-N via
    * TakeOrderedAndProject. No join, no quadratic term anywhere.
    */
  def boilerplateNgrams(spark: SparkSession, dir: String, n: Int = 3, minDf: Long = 5L,
                        topN: Int = 20): DataFrame =
    cachedShingles(spark, dir, n)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .orderBy(col("df").desc, col("shingle"))
      .limit(topN)

  /** Per-document boilerplate ratio: the fraction of each document's
    * distinct n-gram shingles whose corpus document frequency is
    * ≥ `minDf` — the gate value a curation pipeline thresholds on to
    * drop template-dominated documents.
    *
    * Scale shape: shingle frame → per-shingle df aggregate → equi-join
    * back on shingle → per-doc aggregate. The join's build side carries
    * ONE row per shingle (the df), so even a pathologically hot
    * boilerplate shingle only replicates that single row across its
    * occurrences — sort-merge/AQE handles it without a df cap; the
    * per-doc aggregate is map-side combined.
    */
  def boilerplateRatio(spark: SparkSession, dir: String, n: Int = 3,
                       minDf: Long = 5L): DataFrame = {
    val sh = cachedShingles(spark, dir, n)
    val dfv = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    sh.join(dfv, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df") >= minDf, lit(1))).as("n_boiler"))
      .withColumn("boiler_ratio", round(col("n_boiler") / col("n_shingles"), 5))
      .orderBy(col("doc_id"))
  }

  /** Source-level overlap diagnostics: pairwise Jaccard between each
    * pair of sources' distinct shingle sets. Before mixing corpora a
    * pipeline wants to know which sources are re-crawls / mirrors of
    * each other — pair-level near-dup ([[ngramJaccard]]) answers
    * "which documents", this answers "which SOURCES" in one aggregate
    * view (the number the sample_mixture weights should be corrected
    * by).
    *
    * Scale shape: distinct (source, shingle) — cardinality bounded by
    * sources × shingle vocabulary, far below the document shingle
    * frame — then the standard df-capped shingle-keyed self-join
    * ([[dfCapped]], cap = `maxDf` SOURCES sharing a shingle; a shingle
    * in more sources than that carries no pair information, exactly
    * the ngramJaccard argument one level up). Source pair count is
    * quadratic only in the number of SOURCES sharing shingles, and the
    * per-source size/join frames are tiny → broadcast.
    */
  def sourceOverlap(spark: SparkSession, dir: String, n: Int = 5,
                    maxDf: Long = 1000L): DataFrame = {
    // source-level shingles derive from the memoized doc-level frame
    // (shared with every other shingle consumer — the corpus is
    // tokenized ONCE per session) via a doc→source attribute join
    // whose build side is two columns of the documents table
    val docSrc = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    // materialized: the capped source-shingle set feeds BOTH self-join
    // sides plus the per-source size aggregate — uncached, each read
    // re-ran the attribute join + distinct + df-cap chain (the
    // source_overlap plan showed the subtree three times; guide §1.2)
    val sh = graft.sources.ScratchCache.materialize(dfCapped(
      cachedShingles(spark, dir, n)
        .join(docSrc, Seq("doc_id"))
        .select(col("source"), col("shingle"))
        .distinct(),
      "shingle", maxDf))
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("sz").as("sz_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("sz").as("sz_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared") / (col("sz_a") + col("sz_b") - col("n_shared")), 5).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Incremental-ingest near-dup gate: flag each NEW document (the
    * deterministic md5 hash-split below `newThresholdHex`, standing in
    * for today's ingest batch) whose df-capped shingle Jaccard against
    * some EXISTING corpus document clears `threshold`, with the best
    * match as witness. This is the dedup shape a 100 TB pipeline runs
    * daily: the new batch joins the standing corpus; nothing ever
    * re-pairs corpus×corpus.
    *
    * Scale shape: ONE shared shingle build ([[cachedShingles]] → the
    * same [[dfCapped]] gate as [[ngramJaccard]], so Jaccard keeps the
    * one corpus-wide capped-set definition), split by a narrow md5
    * predicate; the candidate join is new-side × corpus-side keyed on
    * shingle — the new batch is a small fraction of the corpus, so
    * join volume is batch-sized, not corpus². Best-match via
    * per-new-doc WindowGroupLimit.
    */
  def incrementalNearDup(spark: SparkSession, dir: String, n: Int = 5,
                         threshold: Double = 0.8, maxDf: Long = 1000L,
                         newThresholdHex: String = "1999"): DataFrame = {
    val sh = cappedShingles(spark, dir, n, maxDf)
      .withColumn("is_new",
        substring(md5(col("doc_id").cast("string")), 1, 4) < lit(newThresholdHex))
    val sizes = sh.groupBy(col("doc_id"), col("is_new")).agg(count(lit(1)).as("sz"))
    val inter = sh.where(col("is_new")).as("a")
      .join(sh.where(!col("is_new")).as("b"), col("a.shingle") === col("b.shingle"))
      .groupBy(col("a.doc_id").as("doc_id"), col("b.doc_id").as("match_id"))
      .agg(count(lit(1)).as("inter"))
    val scored = inter
      .join(sizes.where(col("is_new")).select(col("doc_id"), col("sz").as("a_sz")), "doc_id")
      .join(sizes.where(!col("is_new"))
        .select(col("doc_id").as("match_id"), col("sz").as("b_sz")), "match_id")
      .withColumn("jaccard", round(col("inter") / (col("a_sz") + col("b_sz") - col("inter")), 5))
      .where(col("jaccard") >= threshold)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("jaccard").desc, col("match_id"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col("doc_id"), col("match_id"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** [[incrementalNearDup]]'s core for an EXTERNAL batch of new
    * documents (doc_id, text) — the shape the streaming gate feeds one
    * micro-batch at a time ([[graft.streaming.DedupStreams]]): shingle
    * the batch, join the standing corpus's df-capped shingle frame,
    * flag batch docs whose Jaccard clears `threshold` with the best
    * corpus match as witness. The corpus side keeps the df cap
    * (anti-skew); the new batch's shingles are used whole — a
    * fresh document deserves its full shingle set, and batch-side
    * volume is bounded by the batch itself.
    */
  def gateAgainstCorpus(spark: SparkSession, dir: String, newDocs: DataFrame,
                        n: Int = 5, threshold: Double = 0.8,
                        maxDf: Long = 1000L): DataFrame = {
    val corp = cappedShingles(spark, dir, n, maxDf)
    val corpSizes = corp.groupBy(col("doc_id")).agg(count(lit(1)).as("b_sz"))
    val newSh = shingles(newDocs, n)
    val newSizes = newSh.groupBy(col("doc_id")).agg(count(lit(1)).as("a_sz"))
    val inter = newSh.as("a").join(corp.as("b"), col("a.shingle") === col("b.shingle"))
      .groupBy(col("a.doc_id").as("doc_id"), col("b.doc_id").as("match_id"))
      .agg(count(lit(1)).as("inter"))
    val scored = inter
      .join(broadcast(newSizes), "doc_id")
      .join(corpSizes.withColumnRenamed("doc_id", "match_id"), "match_id")
      .withColumn("jaccard", round(col("inter") / (col("a_sz") + col("b_sz") - col("inter")), 5))
      .where(col("jaccard") >= threshold)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("jaccard").desc, col("match_id"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col("doc_id"), col("match_id"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** MinHash signatures, wide format (doc_id, mh0..mh{k-1}): k
    * independent hash functions realized as 8-hex-char (32-bit) chunks
    * of md5(seed || '|' || shingle) — one md5 evaluation yields four
    * hash functions, so k=16 costs 4 digests per shingle, not 16.
    * Lexicographic min on fixed-width hex equals numeric min, and the
    * scheme is reproducible in any engine with md5/substr. One groupBy
    * carrying k min-aggregates: shingle rows are shuffled once.
    */
  def minhashSignatures(sh: DataFrame, k: Int): DataFrame = {
    val nSeeds = (k + 3) / 4
    val hashed = sh.select(col("doc_id") +:
      (0 until nSeeds).map(s =>
        md5(concat_ws("|", lit(s.toString), col("shingle"))).as(s"h$s")): _*)
    val mins = (0 until k).map(i =>
      min(substring(col(s"h${i / 4}"), (i % 4) * 8 + 1, 8)).as(s"mh$i"))
    hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** MinHash + LSH near-dup: signatures → band buckets (rows-per-band
    * concatenated) → candidates share a (band, bucket) key → verified
    * with exact Jaccard; reports both the minhash estimate and the
    * exact value. The exact-jaccard pass only touches candidate pairs'
    * shingles (candidate-first join), never the full shingle self-join.
    *
    * RECALL BOUND (`bucketCap`): a (band, bucket) key holding more
    * than `bucketCap` docs is dropped whole before the pair join (see
    * [[minhashCandEst]]). A NEAR-duplicate cluster larger than the cap
    * that floods EVERY one of its band buckets therefore contributes
    * no pairs at all — only exact duplicates in it are recoverable by
    * [[exact]] hash dedup. The recall each cap trades is measured, not
    * assumed ([[minhashCapSweep]] prices caps against exact-Jaccard
    * truth); dropped hot buckets are logged per run so flood-heavy
    * corpora are visible at run time, and `bucketCap = Long.MaxValue`
    * disables the gate entirely.
    */
  def minhashLsh(spark: SparkSession, dir: String, n: Int = 5, k: Int = 16,
                 rowsPerBand: Int = 2, threshold: Double = 0.8,
                 bucketCap: Long = 1000L): DataFrame = {
    val sh = cachedShingles(spark, dir, n)
    val est = minhashCandEst(spark, dir, n, k, rowsPerBand, bucketCap)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val shA = sh.toDF("a_id", "shingle")
    val shB = sh.toDF("b_id", "shingle")
    val inter = est.select(col("a_id"), col("b_id"))
      .join(shA, "a_id").join(shB, Seq("b_id", "shingle"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
    est.join(inter, Seq("a_id", "b_id"), "left")
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("a_sz")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("b_sz")), "b_id")
      .withColumn("jaccard", round(coalesce(col("inter"), lit(0L)) /
        (col("a_sz") + col("b_sz") - coalesce(col("inter"), lit(0L))), 5))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("est_jaccard"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The blocking + estimation stage of [[minhashLsh]] alone:
    * any-band-collision candidate pairs with their signature-agreement
    * Jaccard estimate, UNverified — what [[minhashRecallEval]] audits
    * and [[minhashLsh]] then verifies exactly.
    *
    * Flood control: a (band, bucket) key holding more than `bucketCap`
    * docs is dropped whole before the self-join — the [[simhash]] /
    * [[dfCapped]] occupancy gate extended to the band family. A
    * flooded band bucket is boilerplate (hundreds of docs sharing a
    * 2-row signature slice emit occupancy² pairs; exactly the
    * sf10-zipf 88× growth measured in r12), and the pairs it would
    * contribute are better found by [[exact]] hash dedup. The recall
    * this trades is MEASURED, not assumed — [[minhashCapSweep]]
    * prices each cap against the exact-Jaccard truth.
    *
    * Construction-time audit job: when the cap is live (bucketCap !=
    * Long.MaxValue) this builder EAGERLY counts the over-cap buckets —
    * one aggregation over slim (band, bv) keys, shared with the
    * anti-join via the ScratchCache persist — so the recall-bound
    * warning fires at build time even for callers that stage the
    * frame without evaluating it (a curation pipeline assembling its
    * manifest lazily would otherwise silently drop clusters). Callers
    * that need a fully lazy plan pass bucketCap = Long.MaxValue.
    */
  private[graft] def minhashCandEst(spark: SparkSession, dir: String, n: Int,
                                    k: Int, rowsPerBand: Int,
                                    bucketCap: Long = 1000L): DataFrame = {
    val sigs = cachedSignatures(spark, dir, n, k)
    val nBands = k / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b.toLong).as("band"),
        concat((0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*).as("bv"))
    }
    // the full signature RIDES the band rows (one array column) so the
    // minhash estimate is computed directly on the candidate rows —
    // no re-join of the k-wide signature frame per side (two shuffles
    // of n×k cells saved for ~k× wider band-join rows, a win because
    // candidates ≪ band rows and the join itself is the skew risk)
    val bands0 = sigs.select(col("doc_id"),
        array((0 until k).map(i => col(s"mh$i")): _*).as("sig"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    // hot set (occupancy > cap) is tiny by construction → broadcast.
    // ScratchCache it so the eager count below and the left_anti join
    // share ONE aggregation pass; the count is the caller's runtime
    // signal that the bucketCap recall bound is live on THIS corpus
    // (see minhashLsh's scaladoc).
    val hot = graft.sources.ScratchCache.materialize(
      bands0.groupBy(col("band"), col("bv"))
        .agg(count(lit(1)).as("df")).where(col("df") > bucketCap)
        .select(col("band"), col("bv")))
    if (bucketCap != Long.MaxValue) {
      val nHot = hot.count()
      if (nHot > 0) org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"minhashLsh: dropped $nHot band buckets over occupancy cap $bucketCap " +
          s"(near-dup clusters flooding all their buckets lose recall; " +
          s"see minhashCapSweep to price the cap)")
    }
    val bands = bands0.join(broadcast(hot), Seq("band", "bv"), "left_anti")
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("a.sig").as("a_sig"),
        col("b.doc_id").as("b_id"), col("b.sig").as("b_sig"))
      .distinct()
    cand.select(col("a_id"), col("b_id"),
      round(expr("aggregate(zip_with(a_sig, b_sig, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v)")
        / lit(k.toDouble), 5).as("est_jaccard"))
  }

  /** Portable 64-bit token hash: the little-endian reading of the
    * first 8 md5 bytes, reinterpreted as a signed long — exactly the
    * value DuckDB exposes as `md5_number_upper(tok)` (signed), so
    * signatures built here can be re-derived bit-for-bit by any engine
    * with an md5 builtin and verified by the external oracle.
    * `xxhash64` would be ~2× cheaper per token but is Spark-private;
    * a persisted near-dup signature is an ARTIFACT other systems must
    * be able to audit, so portability wins. All string/conv ops are
    * codegen'd builtins — the stage stays in whole-stage codegen.
    */
  private[graft] def md5Long64(tok: Column): Column = {
    val hx = md5(tok)
    def byte(k: Int): Column = conv(substring(hx, 2 * k + 1, 2), 16, 10).cast("long")
    val b7 = byte(7)
    // byte 7 carries the sign: value = Σ_{k<7} b_k·2^(8k) + (b7 signed)·2^56
    val b7s = b7 - when(b7 >= 128, lit(256L)).otherwise(lit(0L))
    (0 to 6).map(k => byte(k) * lit(1L << (8 * k))).reduce(_ + _) + b7s * lit(1L << 56)
  }

  /** 64-bit SimHash signatures (doc_id, sig): per-occurrence token
    * hashes via the engine-portable [[md5Long64]] (the DuckDB
    * `md5_number_upper` value, so the whole pipeline is
    * oracle-checkable end-to-end), bit voting weighted by term
    * frequency expressed as 64 map-side-combined sum aggregates: one
    * shuffle of 64-long vote buffers per doc, then the sign of each
    * vote sets the signature bit.
    */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val hashed = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), md5Long64(col("tok")).as("h"))
    val votes = (0 until 64).map(b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, 1L).otherwise(-1L)).as(s"v$b"))
    hashed.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("sig"))
  }

  /** 64-bit SimHash near-dup: candidate pairs must agree on at least
    * one of `64/chunkBits` signature chunks (pigeonhole: with b
    * chunks, guaranteed complete for hamming ≤ b−1 — 4×16-bit chunks
    * cover hamming ≤ 3 exactly; the default maxHamming=6 is
    * knowingly heuristic above that); verified by exact hamming
    * distance.
    *
    * Scale: a (position, chunk) bucket carries only `chunkBits` bits
    * of entropy, so at n ≫ 2^chunkBits docs the within-bucket pair
    * join goes quadratic — degenerate corpora (empty/boilerplate
    * docs hashing to one signature) hit this at ANY n. Every bucket
    * therefore rides the same [[dfCapped]] occupancy gate as the
    * shingle joins: buckets holding more than `bucketCap` docs are
    * dropped before the self-join (a >cap bucket is either
    * boilerplate — near-dup pairs there are better found by the
    * exact-dedup hash — or a signal that chunkBits is too narrow for
    * the corpus; for corpora where n/2^chunkBits approaches the cap,
    * widen the chunks, accepting the lower complete-hamming bound,
    * or use [[minhashLsh]], whose band keys grow with the signature).
    */
  /** The 64-bit SimHash signature table as a BUILD-ONCE
    * fingerprint-addressed artifact — the [[cachedSignatures]]
    * (MinHash) discipline applied to its SimHash twin: the corpus
    * tokenize + 64-way vote aggregate runs once per corpus, not per
    * query (guide §1.2; `dedup_simhash` and `simhash_radius_sweep`
    * each rebuilt it). Signatures are longs — the parquet round-trip
    * is bit-identical.
    */
  private def cachedSimhashSigs(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"simsig|$dir", corpusKey(spark, dir)) {
      val base = graft.sources.IndexStore.indexPath(
        spark, "simhash_sig_v1", s"$dir/documents.parquet", "b64")
      graft.sources.IndexStore.publish(spark, base) { tmp =>
        simhashSignatures(spark, dir).write.mode("overwrite").parquet(s"$tmp/sig")
      }
      graft.sources.IndexStore.open(spark, s"$base/sig")
    }

  def simhash(spark: SparkSession, dir: String, maxHamming: Int = 6,
              chunkBits: Int = 16, bucketCap: Long = 1000L): DataFrame = {
    require(Set(8, 16, 32).contains(chunkBits), s"chunkBits must be 8, 16, or 32: $chunkBits")
    val nChunks = 64 / chunkBits
    val mask = (1L << chunkBits) - 1
    val sigs = cachedSimhashSigs(spark, dir)
    // bucket = chunk position × 2^chunkBits + chunk value: one flat
    // key space so the occupancy gate sees every (position, value)
    // bucket as one key
    val chunks = sigs.select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(nChunks - 1))).as("c"))
      .withColumn("bucket", expr(s"c * ${mask + 1}L + ((sig >> (c * $chunkBits)) & ${mask}L)"))
    val capped = dfCapped(chunks, "bucket", bucketCap)
    val cand = capped.as("a").join(capped.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("a.sig").as("a_sig"),
        col("b.doc_id").as("b_id"), col("b.sig").as("b_sig"))
      .distinct()
    cand.withColumn("hamming", bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Embedding-cosine near-dup, blocked by cluster label. This is the
    * ORACLE variant (label blocking is SQL-expressible); its block key
    * is coarse — L labels ⇒ O(n²/L) pairs inside each block — so the
    * scale path is [[embeddingNearDupLsh]], which blocks on LSH
    * buckets whose count grows with nBits, keeping per-block occupancy
    * bounded.
    */
  def embeddingNearDup(spark: SparkSession, dir: String, threshold: Double = 0.3): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
        l2norm(col("embedding")).as("nrm"))
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.label").cast("long").as("label"),
        cosine5(col("a.embedding"), col("b.embedding"), col("a.nrm"), col("b.nrm")).as("score"))
      .where(col("score") >= threshold)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Connected components over an undirected edge list (a_id, b_id) —
    * the step that turns near-dup PAIRS into dedup decisions: every
    * doc in a component is a duplicate of the component's minimum id.
    *
    * Algorithm: iterative min-label propagation (each node takes the
    * smallest label among itself and its neighbors) — the standard
    * distributed-CC shape: per iteration one join + one groupBy, both
    * keyed shuffles, converging in O(component diameter) rounds.
    * Near-dup components are shallow (duplicates of a common source),
    * so the loop runs a handful of rounds even at corpus scale; each
    * round materializes via localCheckpoint so the plan and lineage
    * stay O(1) instead of growing per iteration. The driver loop
    * iterates ROUNDS (bounded by graph diameter), never rows.
    *
    * localCheckpoint (not the ScratchCache persist the query paths
    * use) is deliberate here: an iterative loop needs lineage
    * TRUNCATION — persist keeps the full lineage, so after R rounds
    * the plan is R joins deep and recovery recomputes the whole
    * history. The trade is that a lost executor fails the BUILD job
    * (rerun it), which is the right trade for offline maintenance
    * work, unlike interactive probes.
    */
  def connectedComponents(edges: DataFrame): DataFrame =
    connectedComponents(edges, 1000000L)

  /** See [[connectedComponents]]. `localThreshold` picks the strategy:
    * an edge list at or under it (counted AFTER materialization, one
    * cheap job) is solved with a driver-side union-find — near-dup
    * edge sets are usually tiny relative to their corpus (pairs must
    * already exceed a high similarity threshold), and an iterative
    * Spark loop pays rounds × jobs of scheduling overhead to
    * propagate labels across a few thousand rows. Above the
    * threshold the distributed min-label loop runs. The default
    * (1M edges ≈ 16 MB of longs) bounds driver memory explicitly;
    * production CC implementations (GraphFrames, GraphX docs) make
    * the same small-graph cutover. Tests pin `localThreshold = 0` to
    * exercise the distributed loop regardless of size.
    */
  def connectedComponents(edges: DataFrame, localThreshold: Long): DataFrame = {
    // materialize the (possibly expensive) edge source ONCE, before
    // symmetrization — a union of two selects over the raw frame
    // would execute the upstream pair-join twice in one job
    val sym = edges.toDF("a", "b").localCheckpoint()
    if (sym.count() <= localThreshold) {
      // bounded driver solve: union-find with path halving
      val rows = sym.collect()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) {
          val p = parent(x); parent(x) = parent.getOrElse(p, p); x = parent(x)
        }
        x
      }
      rows.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by MIN root so every root is its component's minimum —
        // the same canonical label the distributed loop converges to
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      import sym.sparkSession.implicits._
      return parent.keys.toSeq.map(n => (n, find(n)))
        .toDF("doc_id", "cluster_id")
    }
    // distributed path: symmetrize off the checkpointed edges (the
    // union reads stored blocks twice, not the upstream join twice)
    val adj = sym.select(col("a").as("src"), col("b").as("dst"))
      .union(sym.select(col("b").as("src"), col("a").as("dst")))
    var labels = adj.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val neighborMin = adj.join(labels, col("dst") === col("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      val next = labels.join(neighborMin, col("node") === col("src"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .localCheckpoint()
      changed = next.as("n")
        .join(labels.select(col("node"), col("label").as("old")), "node")
        .where(col("label") =!= col("old")).count()
      labels = next
    }
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Near-dup clustering end-to-end: n-gram-Jaccard pairs → connected
    * components → keep-first decision (the component's min id is the
    * canonical doc). The output is the dedup verdict a curation
    * pipeline actually consumes — only docs that appear in at least
    * one near-dup pair are listed; everything else is implicitly kept.
    */
  def dedupClusters(spark: SparkSession, dir: String, n: Int = 5,
                    threshold: Double = 0.8, maxDf: Long = 1000L): DataFrame =
    connectedComponents(ngramJaccard(spark, dir, n, threshold, maxDf).select("a_id", "b_id"))
      .withColumn("is_kept", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))

  /** Cross-document SUBSTRING duplication — the training-data dedup
    * dimension the set-based measures miss (a doc that embeds a long
    * verbatim passage of another scores low n-gram Jaccard but should
    * still be flagged; cf. the substring-dedup argument in
    * "Deduplicating Training Data Makes Language Models Better").
    * Winnowing guarantees any shared substring of length ≥ w + k − 1
    * chars contributes a shared SELECTED fingerprint, so the pair
    * space blocks on selected fingerprints exactly like
    * [[ngramJaccard]] blocks on shingles — an equi-join keyed by
    * fingerprint, never all-pairs — and the same df cap bounds the
    * join against boilerplate fingerprints. Reported `overlap` is the
    * MOSS similarity: shared fingerprints over the smaller document's
    * fingerprint set (containment, not Jaccard — a short doc fully
    * embedded in a long one scores 1.0).
    *
    * k = 16 is a measured choice, not a tuning default: at k = 8 the
    * char-gram universe is so small that fingerprints repeat across
    * most of the corpus (sf0.1: 559k (doc,fp) rows collapse onto 7k
    * distinct fingerprints, Σdf² = 192M — the "blocked" self-join was
    * effectively all-pairs); at k = 16 the same corpus yields 263k
    * distinct fingerprints and Σdf² = 4.1M, a 47× structural cut in
    * join volume that grows with corpus diversity. The detection
    * guarantee loosens from shared substrings ≥ 11 chars to ≥ w+k−1 =
    * 19 chars — still far below any "verbatim passage" of interest.
    *
    * maxDf = 64 is likewise measured: winnowing's min-in-window
    * selection concentrates on globally-common grams (small hash
    * values win every window they appear in), so the df mass sits
    * just under any high cap — at the sf1 scale point Σdf² was 1.31G
    * at cap 1000 but 51M at cap 64, and growth vs sf0.1 is ~linear at
    * the tight cap. A fingerprint shared by >64 documents is corpus
    * boilerplate with no pair-level signal (MOSS applies the same
    * too-common drop); a genuinely duplicated passage is still found
    * through its rarer fingerprints.
    */
  def substringDedup(spark: SparkSession, dir: String, k: Int = 16, w: Int = 4,
                     threshold: Double = 0.5, maxDf: Long = 64L): DataFrame = {
    val fpc = dfCapped(cachedWinnowFps(spark, dir, k, w), "sel", maxDf)
    val sz = fpc.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = fpc.as("a").join(fpc.as("b"),
        col("a.sel") === col("b.sel") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared"))
    inter
      .join(sz.select(col("doc_id").as("a_id"), col("n").as("a_n")), "a_id")
      .join(sz.select(col("doc_id").as("b_id"), col("n").as("b_n")), "b_id")
      // int/int division is bit-identical across engines — no rounding
      .withColumn("overlap", col("shared") / least(col("a_n"), col("b_n")))
      .where(col("overlap") >= threshold)
      .select(col("a_id"), col("b_id"), col("shared"), col("overlap"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Embedding-cosine near-dup blocked on BANDED sign-LSH — the
    * 100 TB blocking key, fully deterministic and oracle-replayable
    * (hash-derived ±1 planes — [[rademacherPlane]]). `nBands`
    * independent sign-LSH tables
    * of `bitsPerBand` bits each (the same band/bucket trick
    * [[minhashLsh]] uses for Jaccard): a pair is a candidate if it
    * collides in ANY band, so the miss probability at per-bit
    * agreement p is (1-p^r)^b instead of a single table's 1-p^r; every
    * candidate is verified with the EXACT cosine, so reported pairs
    * are always a subset of the true ≥threshold pairs.
    *
    * Shuffle shape: candidates come from b equi-joins keyed by (band,
    * bucket) — one shuffle of (vec_id, band, bucket) rows, never a
    * cross join — and each band splits the corpus into 2^r buckets, so
    * per-block pair counts stay bounded where label blocking degrades
    * to O(n²/L).
    *
    * Defaults are tuned to the regime the test corpus exercises (max
    * pairwise cosine ≈ 0.5-0.6; threshold 0.4 → per-bit p ≈ 0.63 →
    * measured recall ≈ 0.9 vs the exact all-pairs scan). At production
    * near-dup thresholds (cos ≥ 0.9, p ≈ 0.86) the same structure
    * gives >0.99 recall with far fewer bands — tune (nBands,
    * bitsPerBand) to the threshold.
    *
    * Corpus growth is handled by the OPERATOR, not the caller: at
    * fixed bits a 10× corpus makes per-bucket occupancy 10× and the
    * within-bucket pair verification 100× (measured at the sf1 scale
    * point — BASELINE.md), so `bitsPerBand` is a FLOOR and the
    * effective width grows as ceil(log2(n/32)), holding occupancy
    * near 32 rows; recall lost to narrower buckets is the documented
    * nBands knob. Degenerate buckets (identical embeddings collide at
    * ANY width) ride the same [[dfCapped]] occupancy gate as every
    * other key-blocked self-join.
    */
  def embeddingNearDupLsh(spark: SparkSession, dir: String, nBands: Int = 32,
                          bitsPerBand: Int = 6, threshold: Double = 0.4,
                          bucketCap: Long = 1000L): DataFrame =
    lshVerifiedPairs(spark, dir, nBands, bitsPerBand, bucketCap)
      .where(col("score") >= threshold)
      .select(col("a_id"), col("b_id"), col("score"))
      .orderBy(col("a_id"), col("b_id"))

  /** Cross-source near-duplicate affinity matrix — WHO copies from
    * WHOM: the shared banded-LSH verified pairs at the
    * [[embeddingNearDupLsh]] threshold, each endpoint mapped to its
    * document's source (the 1:1 vec_id = doc_id key), folded to an
    * unordered (source_a ≤ source_b) × (pair count, mean similarity)
    * matrix. [[dedupReport]] says how MUCH each source duplicates;
    * this says WITH WHOM — the provenance table that separates a
    * mirror pair (one hot off-diagonal cell) from internal
    * boilerplate (a hot diagonal) before anyone assigns dedup blame.
    *
    * Scale shape: pair volume is the blocked linear candidate stage's
    * (never n²); the two source lookups are id-keyed equi-joins; the
    * matrix is ≤ |sources|² rows from one map-side-combined aggregate.
    */
  def dedupSourceMatrix(spark: SparkSession, dir: String, nBands: Int = 32,
                        bitsPerBand: Int = 6, threshold: Double = 0.4,
                        bucketCap: Long = 1000L): DataFrame = {
    val pairs = lshVerifiedPairs(spark, dir, nBands, bitsPerBand, bucketCap)
      .where(col("score") >= threshold)
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("score"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), round(avg(col("score")), 5).as("avg_score"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** The surfaced `dedup_embedding` path: the SAME banded-LSH blocking
    * as [[embeddingNearDupLsh]] with the cluster-label restriction
    * applied POST-block — candidate volume is bounded by bucket
    * occupancy (grows with the adaptive band width), not by n²/L label
    * blocks, so this is the 100 TB shape; [[embeddingNearDup]] remains
    * the exact all-pairs-within-label twin that specs compare against.
    * Deterministic by construction (hash-derived planes), so the
    * DuckDB oracle reproduces the result exactly, misses included.
    */
  def embeddingNearDupLabeled(spark: SparkSession, dir: String, nBands: Int = 32,
                              bitsPerBand: Int = 6, threshold: Double = 0.3,
                              bucketCap: Long = 1000L): DataFrame =
    lshVerifiedPairs(spark, dir, nBands, bitsPerBand, bucketCap)
      .where(col("a_label") === col("b_label") && col("score") >= threshold)
      .select(col("a_id"), col("b_id"), col("a_label").cast("long").as("label"), col("score"))
      .orderBy(col("a_id"), col("b_id"))

  /** Shared LSH candidate generation + exact verification: distinct
    * any-band collisions under the occupancy cap, joined back to the
    * corpus for the exact cosine. Returns every verified candidate
    * with both labels, unthresholded — callers apply their own
    * threshold/label policy.
    */
  private[graft] def lshVerifiedPairs(spark: SparkSession, dir: String, nBands: Int,
                               bitsPerBand: Int, bucketCap: Long): DataFrame =
    lshScoredPairs(spark, dir, nBands, bitsPerBand, bucketCap).distinct()

  /** [[lshVerifiedPairs]] WITHOUT the cross-band `.distinct()` — the
    * raw scored collision stream, where a pair appears once per band
    * it collides in, every occurrence carrying the identical rounded
    * score. Consumers that fold the stream through a dedup-aware
    * bounded aggregator ([[GraphAnn.buildGraph]]'s per-node top-g via
    * [[TopK.TopKAgg]]) skip the distinct's full-stream shuffle
    * — at the 1 M-vector scale point that pass shuffled ~10⁸ slim
    * pair rows twice (distinct + window) for lists that keep 8.
    */
  private[graft] def lshScoredPairs(spark: SparkSession, dir: String, nBands: Int,
                               bitsPerBand: Int, bucketCap: Long): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    // size-tiered occupancy target: ~32 per band bucket below 100k
    // vectors (wide buckets buy recall cheaply when pairs are cheap —
    // and the sf0.01 oracle corpus stays on this tier, bits = 6),
    // ~8 at scale. Every consumer of these pairs keeps a bounded
    // top-list per node (top-g graph edges, best-witness dedup), so
    // the per-node candidate budget is O(bands · occupancy); at
    // occupancy 30 that was ~500 scored pairs PER NODE — measured as
    // > 70 GB of shuffle/spill at the 1M-vector sf50 scale point,
    // for candidates no top-8 list ever keeps. Occupancy 8 puts the
    // budget at ~128/node and the same build fits the box.
    val occ = if (n < 100000L) 32.0 else 8.0
    val bits = math.max(bitsPerBand,
      math.ceil(math.log(math.max(n, 32L).toDouble / occ) / math.log(2.0)).toInt)
    val bands = dfCapped(
      cachedBandBuckets(spark, dir, nBands, bits)
        .withColumn("bb", col("band") * lit(1L << bits) + col("bucket")),
      "bb", bucketCap)
    // the embedding rides the BAND row (one vector per node per band,
    // 32n rows) so the bucket self-join scores each collision in
    // place and only slim (ids, labels, score) rows ever shuffle
    // again. The pre-r13 shape deduped bare id pairs first and then
    // re-joined the corpus TWICE to fetch both embeddings — shipping
    // two vectors per CANDIDATE PAIR (≈ 16·occupancy per node) through
    // two more shuffles; at the 1M-vector sf50 scale point that plan
    // spilled > 50 GB and died on disk. Same pairs, same scores
    // (round-5 of the identical expression), same distinct set — the
    // duplicate-collision rescores are map-side arithmetic, which is
    // cheap; cross-shuffle bytes are not.
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    val fat = bands.select(col("vec_id"), col("bb")).join(e, "vec_id")
    fat.as("a").join(fat.as("b"),
        col("a.bb") === col("b.bb") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.label").as("a_label"), col("b.label").as("b_label"),
        cosine5(col("a.embedding"), col("b.embedding"), col("a.nrm"), col("b.nrm")).as("score"))
  }

  /** Corpus dedup report — the per-source summary a curation run
    * publishes before a corpus ships: document counts, exact-duplicate
    * copies (beyond-first, [[exact]]'s keep-first rule), documents
    * involved in at least one near-dup pair ([[ngramJaccard]]'s
    * df-capped pairs), and the exact keep fraction after exact dedup.
    * One aggregate over the joined verdicts — the report never
    * recomputes a dedup decision, it reuses the same frames the
    * per-document queries serve.
    */
  def dedupReport(spark: SparkSession, dir: String, n: Int = 5,
                  threshold: Double = 0.8, maxDf: Long = 1000L): DataFrame = {
    val pairs = ngramJaccard(spark, dir, n, threshold, maxDf)
    val nearDocs = pairs.select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
      .withColumn("is_near", lit(1L))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(exact(spark, dir).select(col("doc_id"), col("is_dup")), "doc_id")
      .join(nearDocs, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_dup").cast("long")).as("n_exact_dups"),
        sum(coalesce(col("is_near"), lit(0L))).as("n_neardup_docs"))
      .withColumn("keep_frac", (col("n_docs") - col("n_exact_dups")) / col("n_docs"))
      .orderBy(col("source"))
  }

  /** Train/eval decontamination — the n-gram-overlap check every LLM
    * training build runs before shipping (the GPT-3 appendix-C /
    * Dolma method): a TRAINING document is contaminated if it shares
    * at least `minShared` distinct n-gram shingles with ANY evaluation
    * document. Eval membership is the deterministic md5 hash split
    * ([[Curation.hashSample]]'s rule, bucket < evalThresholdHex), so
    * the check is reproducible and SQL-expressible end-to-end.
    *
    * Shape at scale: the eval side collapses to its DISTINCT shingle
    * set (a benchmark suite is tiny next to a 100 TB corpus — AQE
    * broadcasts it), the train side joins keyed by shingle with a
    * map-side-combined per-doc distinct count, and the same df cap as
    * [[ngramJaccard]] drops boilerplate shingles on BOTH sides first —
    * a universal shingle would otherwise mark the whole corpus
    * contaminated while carrying zero signal. Every train doc is
    * reported (left join), contaminated or not.
    */
  /** Output per train doc: `n_shared` (distinct df-capped shingles
    * shared with ANY eval doc), the contamination verdict, plus the
    * PROVENANCE a real pipeline needs to adjudicate hits —
    * `witness_id`, the eval doc sharing the MOST distinct shingles
    * (ties → lowest id; −1 when nothing is shared) and
    * `witness_shared`, that pairwise count. The witness join keys by
    * shingle with the df cap bounding fan-out on both sides, the
    * pairwise counts partial-aggregate map-side, and the argmax is a
    * per-train-doc ranking window (WindowGroupLimit shape) — never an
    * eval×train product.
    */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 5,
                    evalThresholdHex: String = "0ccc", minShared: Long = 3L,
                    maxDf: Long = 1000L): DataFrame = {
    val bucket = substring(md5(col("doc_id").cast("string")), 1, 4)
    val sh = cappedShingles(spark, dir, n, maxDf)
    // (train doc, shingle, eval doc) hit triples — read twice (union
    // count + pairwise witness), materialized once
    val joined = graft.sources.ScratchCache.materialize(
      sh.where(bucket >= lit(evalThresholdHex))
        .join(sh.where(bucket < lit(evalThresholdHex))
          .select(col("doc_id").as("eval_id"), col("shingle")), "shingle"))
    val hits = joined.groupBy(col("doc_id"))
      .agg(count_distinct(col("shingle")).as("n_shared"))
    val wWit = Window.partitionBy(col("doc_id"))
      .orderBy(col("witness_shared").desc, col("eval_id"))
    val witness = joined.groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("witness_shared")) // (doc, shingle, eval) triples are distinct
      .withColumn("rk", row_number().over(wWit))
      .where(col("rk") === 1)
      .select(col("doc_id"), col("eval_id").as("witness_id"), col("witness_shared"))
    Tables.documents(spark, dir).where(bucket >= lit(evalThresholdHex))
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .join(witness, Seq("doc_id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("contaminated", col("n_shared") >= minShared)
      .withColumn("witness_id", coalesce(col("witness_id"), lit(-1L)))
      .withColumn("witness_shared", coalesce(col("witness_shared"), lit(0L)))
      .select(col("doc_id"), col("n_shared"), col("contaminated"),
        col("witness_id"), col("witness_shared"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-filter decontamination PREFILTER — the constant-size
    * broadcast stage that runs BEFORE [[decontaminate]]'s shingle
    * join at 100 TB: the eval carve-out's df-capped shingles set
    * `kHash` md5-derived bits each in a 2^16-bit filter packed into
    * ≤1024 bigint words (the Bloom bitmap — Bloom 1970, the same
    * structure Spark's own runtime bloom-join pushes below shuffles);
    * train shingles then test membership against the BROADCAST bitmap
    * and a doc becomes a contamination CANDIDATE iff ≥ `minShared`
    * distinct shingles pass. One-sided by construction: every truly
    * shared shingle has all its bits set, so candidates ⊇
    * [[decontaminate]]'s contaminated set (spec-asserted) and the
    * exact check only runs on the surviving sliver — the bitmap costs
    * 8 KiB no matter the corpus, where the exact join shuffles every
    * train shingle. False-positive mass is the report's point: with
    * |eval shingles|=m' bits set of m=65536, a clean shingle passes
    * with p≈(1−e^{−k·m'/m})^k — size m to the eval suite, not the
    * corpus.
    *
    * Bit positions are the four 16-bit chunks of [[md5Long64]] (the
    * DuckDB `md5_number_upper` value), so bitmap build, membership
    * test, and verdict replay end-to-end in SQL. The digest is
    * projected once per shingle before either explode: a generator
    * gets no subexpression elimination, so `k` chunk expressions over
    * an inline [[md5Long64]] would digest each shingle once per chunk
    * and per byte.
    */
  def bloomDecontaminate(spark: SparkSession, dir: String, n: Int = 5,
                         evalThresholdHex: String = "0ccc", minShared: Long = 3L,
                         maxDf: Long = 1000L, kHash: Int = 4): DataFrame = {
    require(kHash >= 1 && kHash <= 4, s"kHash draws 16-bit chunks of one 64-bit digest: $kHash")
    val bucket = substring(md5(col("doc_id").cast("string")), 1, 4)
    val sh = cappedShingles(spark, dir, n, maxDf)
      .select(col("doc_id"), col("shingle"), md5Long64(col("shingle")).as("h"))
    val posCols = (0 until kHash).map(j =>
      shiftright(col("h"), 16 * j).bitwiseAND(lit(65535L)))
    val words = sh.where(bucket < lit(evalThresholdHex))
      .select(explode(array(posCols: _*)).as("pos"))
      .select(expr("pos div 64").as("word_idx"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("bit"))
      .groupBy(col("word_idx"))
      .agg(expr("bit_or(bit)").as("word"))
    // membership: k bitmap lookups per shingle; a duplicate chunk value
    // yields duplicate pos rows, so the per-shingle verdict is min(hit),
    // robust to collisions inside one digest
    val probes = sh.where(bucket >= lit(evalThresholdHex))
      .select(col("doc_id"), col("shingle"), explode(array(posCols: _*)).as("pos"))
      .join(broadcast(words), expr("pos div 64") === col("word_idx"), "left")
      .withColumn("hit",
        (coalesce(col("word"), lit(0L))
          .bitwiseAND(expr("shiftleft(1L, cast(pos % 64 as int))")) =!= 0L).cast("long"))
    val perDoc = probes.groupBy(col("doc_id"), col("shingle"))
      .agg(min(col("hit")).as("all_hit"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), sum(col("all_hit")).as("n_bloom_hits"))
    Tables.documents(spark, dir).where(bucket >= lit(evalThresholdHex))
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_shingles", coalesce(col("n_shingles"), lit(0L)))
      .withColumn("n_bloom_hits", coalesce(col("n_bloom_hits"), lit(0L)))
      .withColumn("candidate", col("n_bloom_hits") >= minShared)
      .orderBy(col("doc_id"))
  }

  /** Semantic dedup — SemDeDup (Abbas et al. 2023): k-means-cluster
    * the embedding space, compare pairs only WITHIN a cluster, drop
    * all but one of each semantic-duplicate group. Where
    * [[embeddingNearDup]] blocks on a supervised label and
    * [[embeddingNearDupLsh]] on random hyperplanes, this blocks on
    * LEARNED structure — near-duplicate meaning lands in the same
    * k-means cell even when no label says so, which is exactly the
    * redundancy pruning SemDeDup showed accelerates LLM training.
    *
    * Reuses the persisted IVF assignment ([[Ivf.ensureIndex]] — the
    * build-once cell-partitioned artifact) as the clustering, so the
    * dedup pass costs ONE self-join keyed by cell over data that is
    * already cell-partitioned on disk: each cell's pairs compute
    * within its partition, occupancy is corpus/nCells on average, and
    * nCells scales with the corpus (100k cells at 100 TB) to bound
    * per-cell work the same way the paper shards FAISS k-means.
    * Verdict per doc: keep the cluster-minimum id of each duplicate
    * group (keep-first, matching [[exactDedup]]). With the portable
    * deterministic coarse-quantizer fit ([[Ivf]]) the whole pass —
    * fit, assignment, within-cell pairs, transitive closure — replays
    * as a hard DuckDB oracle.
    *
    * `nCells = 0` (the default) derives the cell count from the
    * corpus: max(16, 2^floor(log2 sqrt(n/2))) — candidate-pair volume
    * n·occupancy/2 then grows ~n^1.5 instead of the n² a FIXED cell
    * count degenerates to (the round-11 sf10 scale run caught the
    * fixed default: 500k vectors in 16 cells is ~7.8e9 dot products).
    * The floor collapses the derivation to 16 for any corpus under
    * 2048 vectors, so the sf0.01 DuckDB oracle (500 vectors) replays
    * the identical 16-cell fit. One metadata-only parquet count per
    * call prices the derivation.
    */
  def semanticDedup(spark: SparkSession, dir: String, nCells: Int = 0,
                    threshold: Double = 0.4): DataFrame = {
    val cells =
      if (nCells > 0) nCells
      else {
        val n = Tables.embeddings(spark, dir).count()
        math.max(16, Integer.highestOneBit(math.sqrt(n / 2.0).toInt.max(1)))
      }
    val (assigned, _) = Ivf.ensureIndex(spark, dir, cells)
    val e = assigned.select(col("vec_id"), col("cell"), col("embedding"), col("nrm"))
    val pairs = e.as("a").join(e.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.cell").cast("long").as("cell"),
        cosine5(col("a.embedding"), col("b.embedding"), col("a.nrm"), col("b.nrm")).as("score"))
      .where(col("score") >= threshold)
    // duplicate groups are cell-local, so the keep decision is a
    // cell-local min — no cross-cell propagation needed
    connectedComponents(pairs.select("a_id", "b_id"))
      .withColumn("is_kept", col("doc_id") === col("cluster_id"))
      .withColumnRenamed("doc_id", "vec_id")
      .orderBy(col("vec_id"))
  }

  /** MinHash estimator-quality eval — the dedup-side twin of
    * [[Ivf.recallEval]]: for every ground-truth near-dup pair
    * ([[ngramJaccard]]'s df-capped exact Jaccard ≥ threshold), did the
    * banded MinHash blocking ([[minhashLsh]]) surface it, and how far
    * off was its estimate? This is the report that justifies running
    * the sketch INSTEAD of the exact shingle self-join at 100 TB: band
    * recall tells you what the blocking misses, the estimate error
    * tells you whether its threshold can be trusted.
    *
    * Pure composition — both sides reuse the session-cached shingle
    * and signature frames, so the eval adds one left join over two
    * already-memoized pipelines. Deterministic end-to-end (md5-chunk
    * minhash, df-capped exact measure), so the oracle replays truth,
    * detection, and the join verbatim. (At the df cap's default the
    * capped and uncapped Jaccard coincide on these corpora; the truth
    * side is ngramJaccard's own capped measure by definition.)
    */
  def minhashRecallEval(spark: SparkSession, dir: String, n: Int = 5, k: Int = 16,
                        rowsPerBand: Int = 2, threshold: Double = 0.8,
                        maxDf: Long = 1000L): DataFrame = {
    val truth = ngramJaccard(spark, dir, n, threshold, maxDf)
    val det = minhashCandEst(spark, dir, n, k, rowsPerBand)
    truth.join(det, Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"), col("jaccard"),
        col("est_jaccard").isNotNull.as("found"), col("est_jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** MinHash banding sweep — the S-curve knob measured instead of
    * assumed: for each band layout of the k=16 signature (rows/band
    * r ∈ {1,2,4,8} ↔ b = k/r bands, collision probability
    * 1−(1−j^r)^b), the candidate-pair volume (the COST a narrower
    * band buys recall with) and the recall against the exact-Jaccard
    * ≥ threshold truth ([[minhashRecallEval]]'s ground-truth
    * convention, one layout → a curve). The table that justifies
    * r = 2 over r = 1 with this corpus's numbers: r = 1 finds
    * everything and floods the verifier; r = 8 is cheap and blind.
    *
    * One cached signature build and ONE truth frame shared by every
    * layout; per layout the band self-join is the bounded blocking
    * every MinHash query uses. Counts exact; one rounded division.
    */
  def minhashBandSweep(spark: SparkSession, dir: String, n: Int = 5, k: Int = 16,
                       widths: Seq[Int] = Seq(1, 2, 4, 8), threshold: Double = 0.8,
                       maxDf: Long = 1000L, bucketCap: Long = 1000L): DataFrame = {
    import spark.implicits._
    val truth = graft.sources.ScratchCache.materialize(
      ngramJaccard(spark, dir, n, threshold, maxDf).select(col("a_id"), col("b_id")))
    val nTruth = truth.count()
    // ONE banded self-join for EVERY layout (guide §1.2/§2.4, the
    // lsh_bits_eval fusion applied here): the layout r rides as a
    // struct field, so all four band tables share one explode, one
    // occupancy gate, one exchange pair and one distinct instead of
    // four of each — and the sweep only needs candidate PAIRS, so the
    // k-wide signature arrays minhashCandEst carries for its
    // est_jaccard column don't ride the join at all. Per-layout
    // candidate sets are unchanged: r partitions the (r, band, bv)
    // key space, so the per-key occupancy cap and the collision join
    // behave exactly as the per-layout runs did, and pairs are
    // distinct per (r, a_id, b_id); count(t) = the old left_semi
    // count because (a_id, b_id) is unique within a layout.
    val sigs = cachedSignatures(spark, dir, n, k)
    val bandStructs = widths.flatMap { r =>
      (0 until k / r).map { b =>
        struct(lit(r.toLong).as("r"), lit(b.toLong).as("band"),
          concat((0 until r).map(j => col(s"mh${b * r + j}")): _*).as("bv"))
      }
    }
    val bands0 = sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.r").as("r"), col("bb.band").as("band"),
        col("bb.bv").as("bv"))
    val hot = bands0.groupBy(col("r"), col("band"), col("bv"))
      .agg(count(lit(1)).as("df")).where(col("df") > bucketCap)
      .select(col("r"), col("band"), col("bv"))
    val bands = bands0.join(broadcast(hot), Seq("r", "band", "bv"), "left_anti")
    val cand = bands.as("a").join(bands.as("b"),
        col("a.r") === col("b.r") && col("a.band") === col("b.band") &&
          col("a.bv") === col("b.bv") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.r").as("r"), col("a.doc_id").as("a_id"),
        col("b.doc_id").as("b_id"))
      .distinct()
    val agg = cand.join(truth.withColumn("t", lit(1)), Seq("a_id", "b_id"), "left_outer")
      .groupBy(col("r"))
      .agg(count(lit(1)).as("nc"), count(col("t")).as("nf"))
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    widths.map { r =>
      val (nc, nf) = agg.getOrElse(r.toLong, (0L, 0L))
      (r.toLong, (k / r).toLong, nc, nTruth, nf,
        if (nTruth == 0) 0.0 else r5(nf.toDouble / nTruth))
    }.toDF("rows_per_band", "n_bands", "n_candidates", "n_truth", "n_found", "recall")
      .orderBy(col("rows_per_band"))
  }

  /** Band-bucket occupancy-cap sweep — the PRICE TAG for
    * [[minhashCandEst]]'s flood gate (the [[minhashBandSweep]]
    * discipline applied to the cap knob instead of the band width):
    * per cap, the candidate-pair volume the verifier must score and
    * the recall against the exact-Jaccard ≥ threshold truth. Candidate
    * sets provably NEST across caps — a pair survives cap c iff the
    * least-occupied bucket it collides in holds ≤ c docs — so ONE
    * band self-join (restricted to buckets at or under the LARGEST
    * measured cap) tags every pair with that minimum occupancy, and
    * each row is a filter + two counts over the shared frame. The
    * small caps are where the gate starts eating real clusters: an
    * exact-duplicate group of m docs collides in ALL its band buckets
    * at occupancy ≥ m, so caps below the corpus's designed dup-group
    * sizes show the recall loss directly.
    */
  def minhashCapSweep(spark: SparkSession, dir: String, n: Int = 5, k: Int = 16,
                      rowsPerBand: Int = 2, caps: Seq[Long] = Seq(2, 8, 64, 1000),
                      threshold: Double = 0.8, maxDf: Long = 1000L): DataFrame = {
    import spark.implicits._
    require(caps.nonEmpty && caps.forall(_ >= 1), s"caps must be >= 1: $caps")
    val capsU = caps.distinct.sorted
    val maxCap = capsU.max
    val truth = graft.sources.ScratchCache.materialize(
      ngramJaccard(spark, dir, n, threshold, maxDf).select(col("a_id"), col("b_id")))
    val nTruth = truth.count()
    val sigs = cachedSignatures(spark, dir, n, k)
    val nBands = k / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b.toLong).as("band"),
        concat((0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*).as("bv"))
    }
    val bands0 = sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    // buckets hotter than every measured cap never contribute a pair —
    // the join itself stays occupancy-bounded even on a zipf corpus
    val occ = bands0.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("df")).where(col("df") <= maxCap)
    val bd = bands0.join(occ, Seq("band", "bv"))
    val pairs = graft.sources.ScratchCache.materialize(
      bd.as("a").join(bd.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(min(col("a.df")).as("min_occ")))
    // ONE action for EVERY cap: candidates nest by min_occ, so each
    // cap's (n_candidates, n_found) is a conditional count over the
    // shared tagged-pair frame joined once against the unique-pair
    // truth — previously 2 jobs per cap (2×|caps| passes over the
    // cached frame). count(t when min_occ<=c) = the old left_semi
    // count because pairs are unique by groupBy construction.
    val joined = pairs.join(truth.withColumn("t", lit(1)),
      Seq("a_id", "b_id"), "left_outer")
    val aggs = capsU.flatMap { c =>
      Seq(count(when(col("min_occ") <= c, 1)).as(s"nc_$c"),
        count(when(col("min_occ") <= c, col("t"))).as(s"nf_$c"))
    }
    val row = joined.agg(aggs.head, aggs.tail: _*).head
    capsU.zipWithIndex.map { case (c, i) =>
      val (nc, nf) = (row.getLong(2 * i), row.getLong(2 * i + 1))
      (c, nc, nTruth, nf, if (nTruth == 0) 0.0 else r5(nf.toDouble / nTruth))
    }.toDF("bucket_cap", "n_candidates", "n_truth", "n_found", "recall")
      .orderBy(col("bucket_cap"))
  }

  /** SimHash hamming-radius sweep — [[minhashBandSweep]]'s twin for
    * the sign-fingerprint family: per acceptance radius r ∈ 0..3 (the
    * range the 4×16-bit chunk blocking covers COMPLETELY by
    * pigeonhole — a pair at hamming ≤ 3 must agree on some chunk),
    * the candidate-pair volume the verifier must score and the recall
    * against the exact n-gram-Jaccard ≥ threshold truth
    * ([[minhashRecallEval]]'s ground-truth convention). Candidates
    * provably NEST across radii — each row filters one shared
    * ≤ maxRadius pair frame — so the table reads as the
    * cost-of-recall curve that picks the production radius.
    *
    * One signature build + one blocked pair frame + one truth frame,
    * all ScratchCache-shared; per radius only a filter + two counts.
    */
  def simhashRadiusSweep(spark: SparkSession, dir: String,
                         radii: Seq[Int] = Seq(0, 1, 2, 3),
                         threshold: Double = 0.8): DataFrame = {
    import spark.implicits._
    require(radii.nonEmpty && radii.forall(r => r >= 0 && r <= 3),
      s"chunk blocking is only complete to hamming 0..3: $radii")
    val radiiU = radii.distinct.sorted
    val truth = graft.sources.ScratchCache.materialize(
      ngramJaccard(spark, dir, 5, threshold, 1000L).select(col("a_id"), col("b_id")))
    val nTruth = truth.count()
    val cand = graft.sources.ScratchCache.materialize(
      simhash(spark, dir, maxHamming = radiiU.max))
    // ONE action for EVERY radius (the minhashCapSweep single-pass
    // shape): candidates nest by hamming, counts are conditional aggs
    // over one left join against the unique-pair truth — previously 2
    // jobs per radius over the cached frames.
    val joined = cand.join(truth.withColumn("t", lit(1)),
      Seq("a_id", "b_id"), "left_outer")
    val aggs = radiiU.flatMap { r =>
      Seq(count(when(col("hamming") <= r, 1)).as(s"nc_$r"),
        count(when(col("hamming") <= r, col("t"))).as(s"nf_$r"))
    }
    val row = joined.agg(aggs.head, aggs.tail: _*).head
    radiiU.zipWithIndex.map { case (r, i) =>
      val (nc, nf) = (row.getLong(2 * i), row.getLong(2 * i + 1))
      (r.toLong, nc, nTruth, nf,
        if (nTruth == 0) 0.0 else r5(nf.toDouble / nTruth))
    }.toDF("radius", "n_candidates", "n_truth", "n_found", "recall")
      .orderBy(col("radius"))
  }

  /** Semantic train/eval decontamination — the embedding-space twin of
    * [[decontaminate]] (GPT-3/Dolma shingle overlap catches verbatim
    * leakage; this catches PARAPHRASED leakage the way modern corpus
    * audits do — an eval item whose meaning, not wording, already sits
    * in the training split). The eval carve-out is the same
    * md5-threshold hash split as [[Curation.hashSample]]; candidate
    * pairs come from the SAME banded-LSH blocking every embedding
    * near-dup query shares ([[lshVerifiedPairs]] — bucket-occupancy-
    * bounded, never n²), and each contaminated eval item reports its
    * best-matching train item as the witness (max cosine, ties to the
    * smaller id — [[decontaminate]]'s witness contract).
    *
    * Deterministic: hash split + hash-derived planes + exact verify,
    * so the oracle replays the whole pass, misses included. Scale
    * shape: one candidate join bounded by bucket occupancy + a
    * per-eval-item WindowGroupLimit — the same 100 TB plan as
    * `dedup_embedding_lsh` with an extra scan-level predicate.
    */
  def decontaminateSemantic(spark: SparkSession, dir: String,
                            evalThresholdHex: String = "1999",
                            threshold: Double = 0.4, nBands: Int = 32,
                            bitsPerBand: Int = 6,
                            bucketCap: Long = 1000L): DataFrame = {
    def isEval(id: Column): Column =
      substring(md5(id.cast("string")), 1, 4) < lit(evalThresholdHex)
    val oriented = lshVerifiedPairs(spark, dir, nBands, bitsPerBand, bucketCap)
      .where(col("score") >= threshold)
      .select(
        when(isEval(col("a_id")), col("a_id")).otherwise(col("b_id")).as("eval_id"),
        when(isEval(col("a_id")), col("b_id")).otherwise(col("a_id")).as("train_id"),
        col("score"))
      .where(isEval(col("eval_id")) && !isEval(col("train_id")))
    val w = Window.partitionBy(col("eval_id"))
      .orderBy(col("score").desc, col("train_id"))
    oriented.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("eval_id"), col("train_id"), col("score"))
      .orderBy(col("eval_id"))
  }
}
