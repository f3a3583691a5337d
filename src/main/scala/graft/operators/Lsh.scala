package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.TopK.byScore
import graft.sources.IndexStore

/** Random-hyperplane LSH for cosine similarity — the bucketed ANN
  * alternative to IVF (SURVEY §2 #6): no training pass (vs k-means),
  * so the index is a pure map over the corpus; the trade is
  * less-adaptive cells. Sign-of-dot against `nBits` fixed hyperplanes
  * gives each vector an nBits-bucket id; cosine-close vectors agree on
  * most signs, so probing the query's bucket plus all hamming≤1
  * neighbors recovers most true neighbors while scanning a ~2^-nBits
  * fraction of the corpus per probe.
  *
  * Scale shape: hyperplanes are an nBits-row broadcast table; bucket
  * assignment is one broadcast-join + groupBy(vec_id) — at ingest this
  * is written once, bucket-partitioned (same layout as Ivf.saveIndex),
  * and a query touches only probed buckets (partition pruning).
  * Hyperplane weights come from a fixed-seed RNG on the driver —
  * deterministic across runs, no engine-parity concern (the driver
  * checks this operator rows-only; exact rerank keeps scores honest).
  */
object Lsh {

  /** The nBits hyperplane normals — fixed seed, deterministic, tiny
    * (nBits·dim doubles): the same arrays back both the broadcast
    * assignment table and driver-side probe planning, so a query's
    * bucket computed on the driver matches the persisted assignment
    * bit-for-bit.
    */
  def hyperplaneArrays(nBits: Int, dim: Int): IndexedSeq[Array[Double]] = {
    val rnd = new java.util.Random(42)
    IndexedSeq.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Single-table bucket ids live in a signed Long: bit 62 is the last
    * safe 2^bit weight. Failing loudly beats silently zeroing high-bit
    * weights (driver-planned probes would then target different buckets
    * than the persisted assignment). The BANDED path is exempt — it
    * draws nBands·bitsPerBand total planes but remaps weights to
    * 2^(bit mod bitsPerBand), so only bitsPerBand must fit.
    */
  private[graft] def requireBucketBits(nBits: Int): Unit =
    require(nBits <= 62, s"nBits=$nBits exceeds the 62-bit bucket-id budget")

  /** (bit, 2^bit weight, hyperplane) rows — fixed seed, unit scale.
    * Weight wraps past bit 62 (callers beyond that — the banded
    * assignment — override it; single-table callers are guarded by
    * [[requireBucketBits]]).
    */
  def hyperplanes(spark: SparkSession, nBits: Int, dim: Int): DataFrame = {
    import spark.implicits._
    hyperplaneArrays(nBits, dim).zipWithIndex.map { case (p, j) =>
      (j, if (j < 63) 1L << j else 0L, p)
    }.toDF("bit", "weight", "plane")
  }

  /** The corpus's embedding dimension, read from one row (a LIMIT 1
    * scan — the schema's array type does not carry the length).
    */
  def embeddingDim(spark: SparkSession, dir: String): Int =
    Tables.embeddings(spark, dir)
      .select(size(col("embedding")).as("d")).head.getInt(0)

  /** Corpus with an LSH `bucket` column (sum of 2^bit over positive
    * sign bits). Hyperplanes are drawn at the corpus's actual
    * dimension; a dimension-mismatched row dots to null (VecDot nulls
    * on length mismatch), which the two-branch `when` propagates to a
    * NULL bucket — the row drops out of every bucket join instead of
    * silently hashing to bucket 0.
    */
  def assignBuckets(spark: SparkSession, dir: String, nBits: Int): DataFrame =
    assignBucketsOf(Tables.embeddings(spark, dir), nBits,
      embeddingDim(spark, dir))

  /** Bucket assignment for an arbitrary (vec_id, embedding) frame —
    * the same seed-fixed hyperplanes at the same dimension yield the
    * same buckets, which is what lets NEW vectors join an EXISTING
    * index ([[appendToIndex]]).
    */
  def assignBucketsOf(vectors: DataFrame, nBits: Int, dim: Int): DataFrame = {
    requireBucketBits(nBits)
    val planes = hyperplanes(vectors.sparkSession, nBits, dim)
    vectors.crossJoin(broadcast(planes))
      .groupBy(col("vec_id"))
      .agg(sum(signWeight(col("embedding"), col("plane"), col("weight"))).as("bucket"))
  }

  /** 2^bit weight for a positive sign bit, 0 for negative, NULL for a
    * null dot (dimension mismatch) — the null branch keeps a bad row
    * out of every bucket rather than voting it into bucket 0.
    */
  private def signWeight(emb: Column, plane: Column, weight: Column): Column = {
    val d = dotd(emb, plane)
    when(d >= 0, weight).when(d < 0, lit(0L))
  }

  /** Banded sign-LSH assignment: `nBands` INDEPENDENT hash tables of
    * `bitsPerBand` bits each — (vec_id, band, bucket) rows. Two
    * vectors are candidates if they collide in ANY band (the same
    * band/bucket trick minhashLsh uses for Jaccard), which turns the
    * single-table miss probability (1-p^r) into (1-p^r)^b — the knob
    * that makes sign-LSH blocking tunable per threshold. All
    * nBands·bitsPerBand hyperplanes ride one broadcast; assignment is
    * a single crossJoin + groupBy(vec_id, band) with map-side combine,
    * one pass over the corpus.
    */
  def assignBandBuckets(spark: SparkSession, dir: String, nBands: Int,
                        bitsPerBand: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // weight restarts at each band boundary (2^(bit mod r)), so bucket
    // ids stay in [0, 2^r) regardless of how many total bits are drawn
    val planes = hyperplanes(spark, nBands * bitsPerBand, embeddingDim(spark, dir))
      .select((col("bit") / bitsPerBand).cast("int").as("band"),
        expr(s"shiftleft(1L, bit % $bitsPerBand)").cast("long").as("weight"),
        col("plane"))
    e.crossJoin(broadcast(planes))
      .groupBy(col("vec_id"), col("band"))
      .agg(sum(signWeight(col("embedding"), col("plane"), col("weight"))).as("bucket"))
  }

  /** Build-once/probe-many LSH index: the corpus with precomputed
    * norms, persisted as BUCKET-partitioned parquet (the layout
    * [[Ivf.ensureIndex]] uses for cells) under the shared
    * [[graft.sources.IndexStore]] root. Built on first use per corpus
    * fingerprint × nBits; every later query only reads the probed
    * buckets' files via partition pruning — the faiss-index-artifact
    * analog the per-query rebuild could never amortize.
    */
  /** The corpus's fingerprint-addressed index path for (dir, nBits). */
  def indexPath(spark: SparkSession, dir: String, nBits: Int): String =
    IndexStore.indexPath(spark, "lsh_v2", s"$dir/embeddings.parquet", nBits.toString)

  /** FAISS remove_ids() for the LSH index: tombstone, don't rewrite. */
  def removeFromIndex(spark: SparkSession, dir: String, nBits: Int, ids: Seq[Long]): Unit =
    IndexStore.addTombstones(spark, indexPath(spark, dir, nBits), ids)

  def ensureIndex(spark: SparkSession, dir: String, nBits: Int): DataFrame = {
    val path = indexPath(spark, dir, nBits)
    // staged under a hidden .tmp-* sibling, committed by one atomic rename — racing
    // sessions can't interleave a reader with a half-written index.
    // Buckets nest under epoch=base so maintenance batches
    // (appendToIndex, IndexStore.compact) commit atomically as sibling
    // epoch dirs; pruning on `bucket` is unaffected.
    IndexStore.publish(spark, path) { tmp =>
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
        .join(assignBuckets(spark, dir, nBits), "vec_id")
        // co-locate each bucket into one task → one file per bucket
        // dir, so probe-time partition discovery lists 2^nBits files,
        // not 2^nBits × shuffle-partitions
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$tmp/epoch=base")
    }
    // FAISS remove_ids(): ids deleted via IndexStore.addTombstones(path)
    // are subtracted here — append-only artifact, no rewrite
    IndexStore.minusTombstones(spark, path, IndexStore.open(spark, path))
      .drop("epoch")
  }

  /** Incremental index maintenance — the LSH twin of
    * [[Ivf.appendToIndex]] (FAISS `index.add()`): hash NEW vectors
    * with the SAME seed-fixed hyperplanes and append them to the
    * bucket-partitioned artifact. LSH needs no refit ever (no trained
    * state), so unlike IVF there is no drift caveat — append is the
    * complete maintenance story. At 100 TB ingest appends only the
    * new rows' bucket files. `newVectors`: (vec_id, embedding).
    */
  def appendToIndex(spark: SparkSession, path: String, newVectors: DataFrame,
                    nBits: Int): Unit =
    commitAppend(spark, path, stageAppend(spark, path, newVectors, nBits))

  /** Phase 1 of the atomic append: hash and write the WHOLE batch
    * under a hidden staging dir (invisible to readers). Returns the
    * staging path for [[commitAppend]].
    */
  def stageAppend(spark: SparkSession, path: String, newVectors: DataFrame,
                  nBits: Int): String =
    stageAppendAt(spark, path, newVectors, nBits, IndexStore.stageEpochPath(path, "add"))

  /** [[stageAppend]] with a caller-chosen staging path — the streaming
    * ingest sink ([[graft.streaming.IndexIngest]]) names staging dirs
    * DETERMINISTICALLY per micro-batch so a replayed batch commits the
    * same epoch name and idempotence is an existence check.
    */
  private[graft] def stageAppendAt(spark: SparkSession, path: String, newVectors: DataFrame,
                                   nBits: Int, staging: String): String = {
    val dim = newVectors.select(size(col("embedding")).as("d")).head.getInt(0)
    newVectors
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
      .join(assignBucketsOf(newVectors, nBits, dim), "vec_id")
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(staging)
    staging
  }

  /** Phase 2: one rename makes the staged batch a visible epoch —
    * readers see either none or ALL of the appended vectors.
    */
  def commitAppend(spark: SparkSession, path: String, staging: String): Unit =
    IndexStore.commitEpoch(spark, path, staging)

  /** Tombstone compaction for an LSH index (see [[IndexStore.compact]]):
    * after heavy deletion, rewrite buckets minus tombstones so probes
    * stop paying the anti-join.
    */
  def compactIndex(spark: SparkSession, dir: String, nBits: Int): Unit = {
    val path = indexPath(spark, dir, nBits)
    IndexStore.compact(spark, path, path, "bucket")
  }

  /** Multi-probe top-k: probe the query's bucket and every hamming≤1
    * neighbor bucket, rerank candidates with the exact cosine.
    *
    * Probe planning happens on the DRIVER (mirroring
    * [[Ivf.ivfTopK]]'s centroid ranking): the query's bucket is nBits
    * dot products against the seed-fixed hyperplanes — O(nBits·dim)
    * scalar work — so the candidate fetch carries LITERAL bucket ids
    * and Catalyst prunes the persisted index scan to the nBits+1
    * probed partitions. No corpus-wide work happens per query.
    */
  def lshTopK(spark: SparkSession, dir: String, queryId: Long, nBits: Int, k: Int): DataFrame =
    lshTopKCore(spark, dir, memberVector(spark, dir, queryId), Some(queryId), nBits, k)

  /** [[lshTopK]] for a CALLER-SUPPLIED query vector (non-member
    * serving): same driver bucket planning against the seed-fixed
    * hyperplanes, same hamming≤1 probe set, no self-exclusion.
    */
  def lshTopKVec(spark: SparkSession, dir: String, qv: Array[Float],
                 nBits: Int, k: Int): DataFrame =
    lshTopKCore(spark, dir, qv, None, nBits, k)

  private def lshTopKCore(spark: SparkSession, dir: String, qv: Array[Float],
                          exclude: Option[Long], nBits: Int, k: Int): DataFrame = {
    requireBucketBits(nBits)
    val idx = ensureIndex(spark, dir, nBits)
    val planes = hyperplaneArrays(nBits, qv.length)
    // dotLocal is bit-identical to VecDot, so the driver-computed
    // bucket matches the persisted assignment
    val qd = qv.map(_.toDouble)
    val qn = math.sqrt(dotLocal(qd, qd))
    val qb = planes.zipWithIndex.foldLeft(0L) { case (acc, (p, j)) =>
      if (dotLocal(qd, p) >= 0) acc | (1L << j) else acc
    }
    val probeBuckets = qb +: (0 until nBits).map(j => qb ^ (1L << j))
    TopK.first(idx.where(col("bucket").isin(probeBuckets: _*))
      .where(exclude.map(col("vec_id") =!= _).getOrElse(lit(true)))
      .select(col("vec_id"), col("bucket").cast("long").as("bucket"),
        cosine5(col("embedding"), typedlit(qv), col("nrm"), lit(qn)).as("score")),
      k, byScore("vec_id"): _*)
  }

  /** LSH bucket-width tuning curve — the [[Ivf.recallEval]] /
    * [[VectorSearch.matryoshkaEval]] sibling for this family: for
    * each bucket width, Recall@K and MRR of the hamming≤1 multiprobe
    * search ([[lshTopK]]'s probe set) against
    * [[VectorSearch.recallGroundTruth]], over the shared bounded
    * [[VectorSearch.querySample]] batch. More bits = smaller buckets =
    * cheaper probes and lower recall; this table prices that trade
    * per corpus, which is the number a tuning decision actually
    * needs. Unlike the single-query serve path the whole batch runs
    * IN-PLAN — query buckets via the same seed-fixed hyperplane
    * assignment the index used, the probe set exploded to (q, bucket)
    * rows and equi-joined to the bucket-partitioned index.
    *
    * Scale shape: per width, one broadcast-batch bucket assignment,
    * one bucket-keyed equi-join (candidates bounded by probe-bucket
    * occupancy) and a per-query WindowGroupLimit rerank; one
    * [[VectorSearch.recallFold]] over the union of all widths against
    * the shared ground truth; output is |widths| rows.
    */
  def lshBitsEval(spark: SparkSession, dir: String,
                  bitsSeq: Seq[Int] = Seq(4, 6, 8, 10),
                  queryMod: Int = 100, k: Int = 10,
                  maxQueries: Int = 64): DataFrame = {
    import spark.implicits._
    import graft.sources.ScratchCache
    val dim = embeddingDim(spark, dir)
    val q = ScratchCache.materialize(
      VectorSearch.querySample(Tables.embeddings(spark, dir), queryMod, maxQueries))
    val gt = ScratchCache.materialize(
      VectorSearch.recallGroundTruth(spark, dir, queryMod, k, maxQueries)
        .select(col("q_id"), col("n_id"), col("rk")))
    val nq = q.count().toDouble
    // every width's rerank rides one union, so recall + MRR fold in
    // ONE action for the whole sweep
    val top = bitsSeq.map { bits =>
      val idx = ensureIndex(spark, dir, bits)
      val qb = assignBucketsOf(
        q.select(col("q_id").as("vec_id"), col("qv").as("embedding")), bits, dim)
        .select(col("vec_id").as("q_id"), col("bucket").as("qb"))
      val probes = qb
        .crossJoin(broadcast(spark.range(-1L, bits.toLong).toDF("j")))
        .select(col("q_id"), when(col("j") < 0, col("qb"))
          .otherwise(expr("qb ^ (1 << cast(j AS int))").cast("long")).as("bucket"))
        .distinct()
      TopK.perKey(probes.join(idx, "bucket")
        .where(col("vec_id") =!= col("q_id"))
        .join(broadcast(q), "q_id")
        .select(lit(bits).as("n_bits"), col("q_id"), col("vec_id").as("n_id"),
          cosine5(col("embedding"), col("qv"), col("nrm"), col("qn")).as("score")),
        Seq(col("q_id")), k, "rk", byScore("n_id"): _*)
    }.reduce(_ unionByName _)
    // (q_id, n_id) is unique per width: one bucket per vector
    val fold = VectorSearch.recallFold(top, gt, "n_bits", nq, k)
    bitsSeq.map { bits =>
      val (recall, mrr) = fold.getOrElse(bits, (0.0, 0.0))
      (bits.toLong, recall, mrr, nq.toLong)
    }.toDF("n_bits", "recall_at_k", "mrr", "n_queries")
      .orderBy(col("n_bits"))
  }
}
