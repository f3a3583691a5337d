package graft.operators



import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.TopK.byScore
import graft.sources.IndexStore

/** IVF (inverted-file) approximate nearest-neighbor index — the Spark
  * re-expression of the reference's FAISS IVF index
  * (faiss_reviews_ivf.index; searched at app.py:383-414 with an nprobe
  * sweep; evaluated in ann_tradeoff_table.csv).
  *
  * Build ONCE, probe MANY — mirroring the reference's artifact split
  * (index built offline, app.py only loads and probes it):
  *   - the k-means coarse quantizer fits on a seeded SAMPLE (a few
  *     thousand rows regardless of corpus size — cells only need rough
  *     shape; a full-corpus fit at 100 TB is a non-starter and buys
  *     nothing);
  *   - every corpus vector is assigned to its nearest centroid by a
  *     narrow map against the broadcast centroids (model.transform);
  *   - the assignment persists as cell-PARTITIONED parquet
  *     (saveIndex), the engine's faiss_*.index analog, so a probe is a
  *     partition-pruned scan reading only nprobe/nCells of the data.
  *
  * Search plans the probe on the driver: ranking nCells centroids
  * against one query is O(nCells·dim) scalar work (FAISS's
  * coarse-quantizer scan), and emitting the winners as LITERAL cell
  * ids is what lets Catalyst prune partitions at scan time.
  */
object Ivf {

  /** Rows the coarse-quantizer fit samples down to (~256 per cell at
    * the default nCells=16). */
  val fitRows = 4096L

  /** Corpus with a `cell` column (nearest-centroid id) plus the
    * centroid table (cell, centroid array<double>). K-means fits on a
    * seeded sample capped at [[fitRows]]; assignment is a narrow map
    * against the broadcast model — no shuffle, no full-corpus fit.
    */
  def buildIndex(spark: SparkSession, dir: String, nCells: Int): (DataFrame, DataFrame) =
    fitAndAssign(spark, Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding")), nCells)

  /** Deterministic, ENGINE-PORTABLE coarse-quantizer fit (the choice
    * that lets `ann_ivf_topk` carry a hard external oracle — an
    * RNG-seeded MLlib fit never can): the fit sample is hash-mod
    * selected (`vec_id % ceil(total/fitRows) == 0`, sorted by id),
    * seeds are the k evenly-spaced sample vectors (position
    * `(i·n)/k`), and Lloyd runs a FIXED 10 rounds — nearest cell by
    * direct Σ(aᵢ−bᵢ)² in dimension order, ties to the lower cell,
    * empty cells keep their previous centroid (the same conventions
    * [[Quantized]]'s PQ codebook fit uses). Each round's centroids
    * are quantized to FLOAT32, so summation-order noise in the means
    * (parallel vs sequential aggregation) is rounded away and any
    * engine replaying the recipe lands on bit-identical centroids.
    *
    * The sample collect is bounded by [[fitRows]] (the same
    * driver-artifact budget as PQ codebooks and probe LUTs); the
    * full-corpus ASSIGNMENT stays distributed — one broadcast of the
    * k×dim centroid table and a map-side-combined
    * `min(struct(d2, cell))` argmin per vector, no shuffle of
    * embeddings beyond the vec_id groupBy.
    */
  private def fitAndAssign(spark: SparkSession, rows: DataFrame,
                           nCells: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val total = rows.count()
    val step = math.max(1L, (total + fitRows - 1) / fitRows)
    val sample = rows.where(col("vec_id") % step === 0)
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
      .collect().map(_.getSeq[Float](1).toArray)
    val cents = fitCentroidsPortable(sample, nCells)
    // float-exact values widened to double: the persisted centroid
    // schema stays array<double>, the values stay replayable
    val centroids = cents.zipWithIndex
      .map { case (v, i) => (i, v.map(_.toDouble)) }.toSeq
      .toDF("cell", "centroid")
    // NARROW assignment — no shuffle of the corpus: the k centroids
    // ride as plan literals and the nearest cell is
    // array_position-of-array_min over the k Σdiff² values (the same
    // first-minimum tie rule as min(struct(d2, cell)), the same
    // distance expression the oracle replays). MLlib's transform was
    // also a narrow map; a groupBy argmin would shuffle every
    // embedding at 100 TB just to pick a cell.
    val ds = array(cents.map { c =>
      aggregate(
        zip_with(col("embedding"), typedlit(c.map(_.toDouble)),
          (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v)
    }: _*)
    val assigned = rows
      .withColumn("cell", (array_position(ds, array_min(ds)) - 1).cast("int"))
      .select(col("vec_id"), col("label"), col("embedding"),
        l2norm(col("embedding")).as("nrm"), col("cell"))
    (assigned, centroids)
  }

  /** See [[fitAndAssign]] for the conventions; bit-reproducible. */
  private[operators] def fitCentroidsPortable(sample: Array[Array[Float]],
                                              k: Int, iters: Int = 10): Array[Array[Float]] = {
    require(sample.nonEmpty, "empty fit sample")
    val n = sample.length
    require(n >= k, s"fit sample $n smaller than nCells $k")
    val dim = sample.head.length
    var cents = Array.tabulate(k)(i => sample(((i.toLong * n) / k).toInt).clone())
    var iter = 0
    while (iter < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var bi = 0; var bd = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i).toDouble - cents(c)(i).toDouble; d += t * t; i += 1 }
          if (d < bd) { bd = d; bi = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(bi)(i) += v(i); i += 1 }
        counts(bi) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat))
      iter += 1
    }
    cents
  }

  /** Persist an IVF index as two parquet tables — the engine's analog
    * of the reference's faiss_*.index artifacts, but splittable and
    * cell-partitioned so a probe at 100 TB touches only the probed
    * cells' files (partition pruning on `cell`). Cells nest under
    * `epoch=base` so maintenance batches ([[appendToIndex]],
    * [[IndexStore.compact]]) commit atomically as sibling epoch dirs;
    * pruning on `cell` is unaffected (any partition column prunes).
    */
  def saveIndex(assigned: DataFrame, centroids: DataFrame, path: String): Unit = {
    // one task per cell → one file per cell dir (cheap probe-time listing)
    assigned.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells/epoch=base")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  def loadIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    // FAISS remove_ids(): ids deleted via IndexStore.addTombstones(path)
    // are subtracted from the cells — append-only artifact, no rewrite
    (IndexStore.minusTombstones(spark, path, IndexStore.open(spark, s"$path/cells"))
      .drop("epoch"),
      IndexStore.open(spark, s"$path/centroids"))

  /** Build-once/probe-many entry: builds and persists the index on
    * first use (per corpus FINGERPRINT × nCells — regenerated data at
    * the same path gets a fresh index, never stale results), then
    * every search loads the cell-partitioned artifact — exactly how
    * the reference consumes its prebuilt faiss_reviews_ivf.index.
    * Path and existence checks go through [[graft.sources.IndexStore]]
    * (Hadoop FileSystem API — correct on file:/hdfs:/s3a:, root
    * configurable via spark.graft.index.root).
    */
  /** The corpus's fingerprint-addressed index path for (dir, nCells). */
  def indexPath(spark: SparkSession, dir: String, nCells: Int): String =
    IndexStore.indexPath(spark, "ivf_v5", s"$dir/embeddings.parquet", nCells.toString)

  /** [[indexPath]] for a caller that already fingerprinted the corpus. */
  private[operators] def indexPathOf(spark: SparkSession, fp: String, nCells: Int): String =
    IndexStore.pathOf(spark, "ivf_v5", fp, nCells.toString)

  /** FAISS remove_ids() for the IVF index: tombstone, don't rewrite. */
  def removeFromIndex(spark: SparkSession, dir: String, nCells: Int, ids: Seq[Long]): Unit =
    IndexStore.addTombstones(spark, indexPath(spark, dir, nCells), ids)

  def ensureIndex(spark: SparkSession, dir: String, nCells: Int): (DataFrame, DataFrame) =
    ensureIndexAt(spark, dir, nCells, indexPath(spark, dir, nCells))

  /** [[ensureIndex]] at its already-resolved [[indexPath]], so a caller
    * that needs the path too lists and hashes the corpus once.
    */
  private def ensureIndexAt(spark: SparkSession, dir: String, nCells: Int,
                            path: String): (DataFrame, DataFrame) = {
    // staged under a hidden .tmp-* sibling, committed by one atomic rename — racing
    // sessions can't interleave a reader with a half-written index
    IndexStore.publish(spark, path) { tmp =>
      val (assigned, centroids) = buildIndex(spark, dir, nCells)
      saveIndex(assigned, centroids, tmp)
    }
    loadIndex(spark, path)
  }

  /** Incremental index maintenance — FAISS `index.add()` semantics:
    * assign NEW vectors to the EXISTING centroids (nearest-centroid by
    * euclidean distance, no refit) and append them to the
    * cell-partitioned artifact. At 100 TB this is what makes the index
    * an artifact instead of a nightly rebuild: ingest appends only the
    * new rows' cell files. The coarse quantizer drifts as data drifts —
    * rebuild cadence is a policy decision, not an operator constraint.
    * `newVectors`: (vec_id, label, embedding).
    */
  def appendToIndex(spark: SparkSession, path: String, newVectors: DataFrame): Unit =
    commitAppend(spark, path, stageAppend(spark, path, newVectors))

  /** Phase 1 of the atomic append: assign and write the WHOLE batch
    * under a hidden staging dir (invisible to readers). Returns the
    * staging path for [[commitAppend]].
    */
  def stageAppend(spark: SparkSession, path: String, newVectors: DataFrame): String = {
    // centroid norms computed once on the broadcast side, vector norms
    // once per row → ONE dot product per (vector, centroid) pair
    val centroids = IndexStore.open(spark, s"$path/centroids")
      .withColumn("cn2", dotd(col("centroid"), col("centroid")))
    val staging = IndexStore.stageEpochPath(s"$path/cells", "add")
    TopK.perKey(newVectors
      .withColumn("nrm", l2norm(col("embedding")))
      .crossJoin(broadcast(centroids))
      // ‖e−c‖² via the dot identity — same codegen kernel as search
      .withColumn("d2", col("nrm") * col("nrm") + col("cn2")
        - lit(2) * dotd(col("embedding"), col("centroid"))),
      Seq(col("vec_id")), 1, "rk", col("d2"), col("cell"))
      .select(col("vec_id"), col("label"), col("embedding"), col("nrm"), col("cell"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(staging)
    staging
  }

  /** Phase 2: one rename makes the staged batch a visible epoch —
    * readers see either none or ALL of the appended vectors.
    */
  def commitAppend(spark: SparkSession, path: String, staging: String): Unit =
    IndexStore.commitEpoch(spark, s"$path/cells", staging)

  /** Tombstone compaction for an IVF index (see [[IndexStore.compact]]):
    * after heavy deletion, rewrite cells minus tombstones so probes
    * stop paying the anti-join.
    */
  def compactIndex(spark: SparkSession, dir: String, nCells: Int): Unit = {
    val path = indexPath(spark, dir, nCells)
    IndexStore.compact(spark, s"$path/cells", path, "cell")
  }

  /** Occupancy-driven rebalance — the maintenance op that
    * [[indexStats]]'s `occupancy_skew_x` metric exists to trigger:
    * incremental appends assign to FROZEN centroids, so a drifting
    * ingest distribution piles rows into a few cells until probing
    * those cells scans far more than corpus/nCells rows. When max/avg
    * occupancy is at least `skewThreshold`, refit the coarse quantizer
    * on a seeded sample of the CURRENT contents (base + appends −
    * tombstones), reassign every row, and republish in place: the new
    * cells commit as ONE epoch (stage + rename, like append/compact),
    * old epochs and the tombstone set drop, and the centroid table is
    * swapped last. Returns true iff a rebalance ran.
    *
    * Single-writer MAINTENANCE op with [[IndexStore.compact]]'s
    * operational contract: cells and centroids are two tables, so a
    * reader racing the swap can plan probes against the outgoing
    * centroids — run it in a maintenance window; serving sessions
    * reopen afterwards. (FAISS has no online retrain either; its
    * answer is an offline rebuild + index-file swap, which this
    * reproduces without moving the artifact.)
    */
  def rebalanceIndex(spark: SparkSession, dir: String, nCells: Int,
                     skewThreshold: Double = 4.0): Boolean = {
    import org.apache.hadoop.fs.Path
    val path = indexPath(spark, dir, nCells)
    val (current, _) = ensureIndex(spark, dir, nCells)
    val occ = current.groupBy(col("cell")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("total"), count(lit(1)).as("cells"), max(col("c")).as("mx"))
      .head()
    val total = occ.getLong(0)
    val skew = occ.getLong(2).toDouble / (total.toDouble / occ.getLong(1))
    if (skew < skewThreshold) return false
    // refit on the current contents — the same deterministic bounded
    // fit as buildIndex (cells need rough shape, not a full-corpus fit)
    val (assigned, centroids) = fitAndAssign(spark,
      current.select(col("vec_id"), col("label"), col("embedding")), nCells)
    // cells: ONE epoch replaces every other (the same visibility
    // contract as append/compact — a racing reader sees the old cells
    // or the new, never a mix); tombstoned rows were excluded from the
    // rewrite, so the set retires with them
    IndexStore.replaceEpochs(spark, s"$path/cells", path, "rebalance", "cell", assigned)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // centroids last: stage + swap (a 1-file table; the delete+rename
    // window is why this is a maintenance-window op)
    val cTmp = s"$path/.tmp-centroids-${java.util.UUID.randomUUID.toString.take(8)}"
    centroids.write.mode("overwrite").parquet(cTmp)
    val cDst = fs.makeQualified(new Path(s"$path/centroids"))
    fs.delete(cDst, true)
    require(fs.rename(fs.makeQualified(new Path(cTmp)), cDst),
      s"rebalance centroid swap failed under $path")
    IndexStore.invalidate(spark, path)
    true
  }

  /** Batch IVF search: for each query row (q_id, qv), rank centroids,
    * keep nprobe cells, score candidates in those cells, return top-k
    * per query.
    *
    * Like the single-query path [[ivfTopK]], the index scan is
    * partition-pruned: after the (tiny) probe plan settles, the UNION
    * of probed cells — at most nCells ints — is collected and pushed
    * into the scan as literal ids, so a batch sweep reads only the
    * probed cells' files instead of the whole persisted index (the
    * equi-join alone can't prune the scan — Catalyst sees a join key,
    * not a partition predicate).
    */
  def search(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
             nprobe: Int, k: Int): DataFrame = {
    // scratch-persist: the probe plan (queries × centroids ranking) is
    // read twice — once to collect the pruning ids, once as the join's
    // build side — and must not execute twice. Recomputable lineage
    // (vs localCheckpoint's non-reliable blocks) + bounded LRU
    // lifecycle — see graft.sources.ScratchCache
    val probed0 = TopK.perKey(queries
      .withColumn("qn", l2norm(col("qv")))
      .crossJoin(broadcast(centroids))
      // reuse the precomputed qn — don't re-derive ||qv|| per centroid
      .withColumn("cdist",
        cosine(col("qv"), col("centroid"), col("qn"), l2norm(col("centroid")))),
      Seq(col("q_id")), nprobe, "crk", byScore("cell", "cdist"): _*)
      .select(col("q_id"), col("qv"), col("qn"), col("cell"))
    val probed = graft.sources.ScratchCache.materialize(probed0)
    // bounded driver read: ≤ nCells distinct ids, never rows
    val probedCells = probed.select(col("cell")).distinct()
      .collect().map(_.get(0)).toSeq
    TopK.perKey(assigned.where(col("cell").isin(probedCells: _*)).join(probed, Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("cell").cast("long").as("cell"),
        cosine5(col("embedding"), col("qv"), col("nrm"), col("qn")).as("score")),
      Seq(col("q_id")), k, "rk", byScore("n_id"): _*)
  }

  /** Single-query IVF top-k (the reference's interactive ANN demo,
    * app.py:383-414). Probe planning happens on the driver — nCells
    * centroid cosines against one query vector, O(nCells·dim) scalars —
    * so the candidate fetch carries LITERAL cell ids and Catalyst
    * prunes the index scan to the probed partitions (asserted in
    * PlanSpec).
    */
  def ivfTopK(spark: SparkSession, dir: String, queryId: Long, nCells: Int,
              nprobe: Int, k: Int): DataFrame =
    probe(spark, dir, memberVector(spark, dir, queryId), Some(queryId), lit(true),
      nCells, nprobe, k).orderBy(col("rk"))

  /** [[ivfTopK]] for a CALLER-SUPPLIED query vector (non-member
    * serving — what the free-text front door routes here after
    * encoding): identical driver probe planning and literal-pruned
    * index scan, no self-exclusion since the query is not a corpus
    * row.
    */
  def ivfTopKVec(spark: SparkSession, dir: String, qv: Array[Float], nCells: Int,
                 nprobe: Int, k: Int): DataFrame =
    probe(spark, dir, qv, None, lit(true), nCells, nprobe, k).orderBy(col("rk"))

  /** The single-query probe behind [[ivfTopK]], [[ivfTopKVec]] and
    * [[plannedFilteredTopK]]'s postfilter route: the nprobe cells are
    * ranked on the driver and pushed into the index scan as literal
    * ids (partition pruning), the probed rows that pass `filter`
    * (minus `exclude`, the member query's own id, a [[param]]) are
    * scored against a driver [[normParam]], and [[TopK.ranked]] cuts
    * and ranks them — (n_id, cell, score, rk), zero exchanges.
    */
  private def probe(spark: SparkSession, dir: String, qv: Array[Float],
                    exclude: Option[Long], filter: Column, nCells: Int, nprobe: Int,
                    k: Int): DataFrame = {
    val path = indexPath(spark, dir, nCells)
    val (cells, _) = ensureIndexAt(spark, dir, nCells, path)
    val probedCells = rankCellsArr(centroidRows(spark, dir, nCells, path), qv).take(nprobe)
    val qd = qv.map(_.toDouble)
    TopK.ranked(cells.where(col("cell").isin(probedCells: _*))
      .where(exclude.map(col("vec_id") =!= param(_)).getOrElse(lit(true)) && filter)
      .select(col("vec_id").as("n_id"),
        col("cell").cast("long").as("cell"),
        cosine5(col("embedding"), typedlit(qd), col("nrm"), normParam(qd)).as("score")),
      k, "rk", byScore("n_id"): _*)
  }

  /** Cells ranked by centroid cosine against one query vector —
    * driver-side probe planning (ties broken on cell id, matching
    * [[search]]'s (cdist DESC, cell) order).
    */
  private[operators] def rankCells(centroids: DataFrame, qv: Array[Float]): Seq[Int] =
    rankCellsArr(centroids.collect().map(r =>
      (r.getInt(0), r.getSeq[Double](1).toArray)), qv)

  /** [[rankCells]] over a driver-resident centroid table — the same
    * left-to-right double fold and (cdist DESC, cell) order, no job.
    */
  private[operators] def rankCellsArr(cents: Array[(Int, Array[Double])],
                                      qv: Array[Float]): Seq[Int] = {
    val qd = qv.map(_.toDouble)
    val qn = math.sqrt(dotLocal(qd, qd))
    cents.map { case (cell, c) =>
      (cell, cosineLocal(dotLocal(qd, c), math.sqrt(dotLocal(c, c)), qn))
    }.sortBy { case (cell, s) => (-s, cell) }.map(_._1).toSeq
  }

  /** The collected centroid table for (dir, nCells), memoized per
    * fingerprinted index path — `path`, the caller's resolved
    * [[indexPath]] ([[graft.sources.DriverMemo]]; nCells rows × dim
    * doubles). Single-query probe planning ran one
    * centroid-collect JOB per call (measured 30-80 ms at sf0.1, one
    * per family call in the index-family eval); the table is immutable
    * per artifact path, so the second call should not re-run it.
    * [[rebalanceIndex]] rewrites centroids in place and drops this
    * entry with [[IndexStore.invalidate]].
    */
  private[operators] def centroidRows(spark: SparkSession, dir: String, nCells: Int,
                                      path: String): Array[(Int, Array[Double])] =
    graft.sources.DriverMemo.memo(spark, s"$path/centroids#rows") {
      val (_, centroids) = ensureIndexAt(spark, dir, nCells, path)
      centroids.collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    }

  /** ANN trade-off evaluation — the reference's headline table
    * (ann_tradeoff_table.csv: nprobe, Precision@K, MRR,
    * AvgQueryTime_ms, QueriesUsed; produced by app.py:383-414's timed
    * nprobe sweep): IVF vs the exact flat search over a sampled query
    * batch. Like the reference, the sweep TIMES each nprobe setting —
    * AvgQueryTime_ms is batch wall-clock divided by the query count
    * (amortized batch throughput; the reference times queries one at a
    * time). The index is the persisted build-once artifact, so the
    * sweep measures probing, not re-fitting.
    */
  /** The trade-off table generalized ACROSS the engine's whole index
    * family — the reference compares Flat vs IVF (ann_tradeoff_table
    * .csv); a user choosing an index needs the same three columns for
    * every option. Nine families: exact flat (the 1.0/1.0 anchor), IVF
    * at nprobe, multi-probe LSH, SQ8, PQ/ADC, the three IVF+PQ
    * composites and binary — all against the same query sample and
    * the same exact ground truth, each timed. Queries run through the
    * single-query entry points (the persisted build-once artifacts),
    * so the sweep measures probing, not fitting.
    *
    * `memberQueries = false` prices the HONEST serving case: the
    * sampled query VECTORS are held OUT of every index build (each
    * family builds on a corpus-minus-queries carve-out, published
    * once per (corpus, sample) fingerprint) and every family searches
    * through its caller-vector entry point — no self hit can inflate
    * recall, matching how the reference's free-text path actually
    * queries (app.py:169-188 encodes text the corpus never saw).
    * Ground truth is the exact flat scan of each held-out vector
    * against the carved corpus, so the `flat` row stays the 1.0/1.0
    * anchor by construction.
    */
  def familyEval(spark: SparkSession, dir: String, queryMod: Int, k: Int,
                 nCells: Int = 16, nprobe: Int = 4, lshBits: Int = 8,
                 maxQueries: Int = 8, memberQueries: Boolean = true): DataFrame = {
    import spark.implicits._
    // the sample is BOUNDED (lowest maxQueries mod-selected ids): the
    // eval is a driver loop of single-query searches, so an unbounded
    // mod-sample makes the harness O(corpus × per-call) — 10× data
    // would mean 10× queries × (up to 10×) per-call cost, timing the
    // sample size instead of the index family (measured at the sf1
    // scale point — BASELINE.md)
    val qIds = VectorSearch.querySample(Tables.embeddings(spark, dir), queryMod, maxQueries)
      .select(col("q_id")).collect().map(_.getLong(0)).toSeq
    // non-member mode: query vectors collected once (bounded:
    // maxQueries × dim floats), searches run against the carve-out
    val qVecs: Map[Long, Array[Float]] =
      if (memberQueries) Map.empty
      else Tables.embeddings(spark, dir).where(col("vec_id").isin(qIds: _*))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val searchDir = if (memberQueries) dir else heldOutDir(spark, dir, qIds)
    // exact GT over the same bounded batch. Non-member GT is the
    // exact flat scan of each held-out vector against the carve-out.
    val gt: Map[Long, Map[Long, Long]] =
      if (memberQueries)
        VectorSearch.recallGroundTruth(spark, dir, queryMod, k, maxQueries)
          .select(col("q_id"), col("n_id"), col("rk")).collect()
          .groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
      else qIds.map { q =>
        q -> VectorSearch.topKVec(spark, searchDir, qVecs(q), k).collect()
          .zipWithIndex.map { case (r, i) => r.getLong(0) -> (i + 1).toLong }.toMap
      }.toMap
    val nq = qIds.length.toDouble
    def eval(name: String, run: Long => Seq[Long]) = {
      // no per-family warm-up here: the concurrent warm block below
      // already ran this exact `run(qIds.head)` call for every family
      // before any timed loop starts, so artifact builds (PQ
      // fit/encode, LSH/IVF/TF-IDF ensureIndex) and JIT are all
      // outside the clock — the sweep times probing, not fitting,
      // matching the reference's ann_tradeoff_table methodology
      val t0 = System.nanoTime()
      val res = qIds.map(q => q -> run(q))
      val avgMs = (System.nanoTime() - t0) / 1e6 / nq
      val hits = res.map { case (q, ns) => ns.count(gt(q).contains).toLong }.sum
      val rr = res.map { case (q, ns) =>
        val top1 = gt(q).collectFirst { case (n, 1L) => n }.get
        val i = ns.indexOf(top1)
        if (i >= 0) 1.0 / (i + 1) else 0.0
      }.sum
      (name, math.rint(hits / (nq * k) * 1e5) / 1e5,
        math.rint(rr / nq * 1e5) / 1e5,
        math.rint(avgMs * 1e3) / 1e3, nq.toLong)
    }
    def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq
    val families: Seq[(String, Long => Seq[Long])] = if (memberQueries) Seq(
      ("flat", (q: Long) => ids(VectorSearch.topK(spark, dir, q, k))),
      (s"ivf_nprobe$nprobe", (q: Long) => ids(ivfTopK(spark, dir, q, nCells, nprobe, k))),
      ("lsh_multiprobe", (q: Long) => ids(Lsh.lshTopK(spark, dir, q, lshBits, k))),
      ("sq8", (q: Long) => ids(Quantized.sq8TopK(spark, dir, q, k))),
      ("pq_adc", (q: Long) => ids(Quantized.pqTopK(spark, dir, q, k))),
      (s"ivfpq_nprobe$nprobe", (q: Long) =>
        ids(Quantized.ivfPqTopK(spark, dir, q, nCells, nprobe, k))),
      // rerank: the production answer to quantization recall loss —
      // this row quantifies the recall recovered per extra shortlist c
      (s"ivfpq_rerank_c50", (q: Long) =>
        ids(Quantized.ivfPqRerankTopK(spark, dir, q, nCells, nprobe, c = 50, k))),
      // residual encoding (FAISS by_residual=true): finer quantization
      // at the same m — the recall gap vs ivfpq_nprobe is the point
      (s"ivfpq_res_nprobe$nprobe", (q: Long) =>
        ids(Quantized.ivfPqResidualTopK(spark, dir, q, nCells, nprobe, k))),
      // 1-bit sign quantization + exact rerank (IndexBinaryFlat shape)
      ("binary_c50", (q: Long) =>
        ids(Quantized.binaryTopK(spark, dir, q, c = 50, k = k))))
    else Seq(
      // the SAME nine families through their caller-vector entry
      // points against the held-out carve-out — row names match the
      // member table so the two read side-by-side
      ("flat", (q: Long) => ids(VectorSearch.topKVec(spark, searchDir, qVecs(q), k))),
      (s"ivf_nprobe$nprobe", (q: Long) =>
        ids(ivfTopKVec(spark, searchDir, qVecs(q), nCells, nprobe, k))),
      ("lsh_multiprobe", (q: Long) =>
        ids(Lsh.lshTopKVec(spark, searchDir, qVecs(q), lshBits, k))),
      ("sq8", (q: Long) => ids(Quantized.sq8TopKVec(spark, searchDir, qVecs(q), k))),
      ("pq_adc", (q: Long) => ids(Quantized.pqTopKVec(spark, searchDir, qVecs(q), k))),
      (s"ivfpq_nprobe$nprobe", (q: Long) =>
        ids(Quantized.ivfPqTopKVec(spark, searchDir, qVecs(q), nCells, nprobe, k))),
      (s"ivfpq_rerank_c50", (q: Long) =>
        ids(Quantized.ivfPqRerankTopKVec(spark, searchDir, qVecs(q), nCells, nprobe,
          c = 50, k))),
      (s"ivfpq_res_nprobe$nprobe", (q: Long) =>
        ids(Quantized.ivfPqResidualTopKVec(spark, searchDir, qVecs(q), nCells, nprobe, k))),
      ("binary_c50", (q: Long) =>
        ids(Quantized.binaryTopKVec(spark, searchDir, qVecs(q), c = 50, k = k))))
    // warm every family CONCURRENTLY first: the one-time artifact
    // builds (PQ fit/encode, IVF/LSH publication) dominate a cold
    // sweep and overlap safely — IndexStore's staged-rename publish
    // makes racing builds of a shared artifact settle on one winner.
    // The TIMED loops below stay sequential: per-family latency must
    // measure the index family, never 10-way job contention.
    locally {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      val warm: Future[Seq[Unit]] =
        Future.traverse(families) { case (_, run) => Future { run(qIds.head); () } }
      Await.result(warm, 30.minutes)
    }
    families.map { case (name, run) => eval(name, run) }
      .toDF("family", "Precision@K", "MRR", "AvgQueryTime_ms", "QueriesUsed")
      .orderBy(col("family"))
  }

  /** The corpus-minus-queries carve-out for non-member
    * [[familyEval]]: `embeddings.parquet` without the sampled query
    * ids, published once per (corpus, sample) under [[IndexStore]]
    * like any artifact — every family's `ensure*` build then
    * fingerprints THIS table, so no index ever saw a query vector.
    */
  private def heldOutDir(spark: SparkSession, dir: String, qIds: Seq[Long]): String = {
    val path = graft.sources.IndexStore.indexPath(spark, "heldout_v1",
      s"$dir/embeddings.parquet", qIds.mkString("_"))
    graft.sources.IndexStore.publish(spark, path) { tmp =>
      Tables.embeddings(spark, dir)
        .where(!col("vec_id").isin(qIds: _*))
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    }
    path
  }

  /** nprobe auto-tuner — the third planner (next to the filtered-ANN
    * strategy planner and the LSH-bits / MinHash-band sweeps): pick
    * the SMALLEST measured nprobe whose Precision@K meets the recall
    * target (the canonical IVF tuning rule — probe depth buys recall
    * linearly in scan cost, so the cheapest setting that clears the
    * SLO wins), falling back to the deepest measured probe when the
    * target is out of reach. Decisions come from [[recallEval]]'s
    * hard-oracled measured curve — the planner is a cut over a
    * replayed table, so the CHOICE itself is oracle-checked.
    */
  def nprobePlanner(spark: SparkSession, dir: String, target: Double = 0.9,
                    nCells: Int = 16, queryMod: Int = 100, k: Int = 10,
                    nprobes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    import spark.implicits._
    val rows = recallEval(spark, dir, nCells, queryMod, k, nprobes).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    val met = rows.filter(_._2 >= target)
    val pick = if (met.nonEmpty) met.minBy(_._1) else rows.maxBy(_._1)
    Seq((target, pick._1.toLong, pick._2, pick._3, pick._4, met.nonEmpty))
      .toDF("target_precision", "nprobe", "precision_at_k", "mrr",
        "queries_used", "target_met")
  }

  /** Filtered-ANN strategy planner — the cost-based pre- vs
    * post-filter decision every filtered vector query faces (the
    * classic selectivity rule: a HIGHLY selective metadata filter
    * should scan its few matching rows exactly — pre-filter — while
    * a loose filter should probe the index and discard — post-filter;
    * post-filtering a rare label risks an under-filled top-k because
    * the probe set holds too few matches). Per label: exact
    * occupancy, selectivity, the rows each strategy would score
    * (pre-filter = the label's rows; post-filter = expected probe
    * volume under the uniform estimate PLUS the worst case from the
    * REAL fit's top-nprobe cell occupancies), the expected label
    * matches inside a probe, and the chosen strategy. The decision is
    * INTEGER-exact on both engines: expected-matches < k compares
    * nprobe·n_label < k·nCells, cost compares n_label ≤
    * (n·nprobe) div nCells.
    *
    * Scale shape: one cell-count aggregate over the persisted index
    * (column-pruned), one label aggregate over the corpus, |labels|
    * output rows with a broadcast total — the planner table costs two
    * scans regardless of corpus size.
    */
  def filterPlanner(spark: SparkSession, dir: String, nCells: Int = 16,
                    nprobe: Int = 4, k: Int = 10): DataFrame = {
    val (assigned, _) = ensureIndex(spark, dir, nCells)
    val worst = assigned.groupBy(col("cell")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("cell")).limit(nprobe)
      .agg(sum(col("c"))).head.getLong(0)
    val labels = assigned.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
    val tot = labels.agg(sum(col("n_label")).as("n"))
    labels.crossJoin(broadcast(tot))
      .select(col("label").cast("long").as("label"), col("n_label"),
        round(col("n_label") / col("n"), 5).as("selectivity"),
        col("n_label").as("scan_prefilter"),
        expr(s"(n * $nprobe) div $nCells").as("scan_postfilter_uniform"),
        lit(worst).as("scan_postfilter_worst"),
        round(col("n_label") * nprobe / nCells.toDouble, 5).as("exp_probe_matches"),
        when(col("n_label") * nprobe < k * nCells, lit("prefilter"))
          .when(col("n_label") <= expr(s"(n * $nprobe) div $nCells"), lit("prefilter"))
          .otherwise(lit("postfilter")).as("strategy"))
      .orderBy(col("label"))
  }

  /** Planner-ROUTED filtered vector search — [[filterPlanner]]'s
    * integer decision rule wired into execution (the r11 verdict's
    * "the planner emits the table but the filtered queries hardcode
    * one strategy"). The label-set filter is costed on the driver
    * from two bounded aggregates over the persisted index, then the
    * query executes the strategy the rule picks:
    *
    *  - PREFILTER (rare label set): exact cosine over only the
    *    matching rows — the label predicate pushes into the parquet
    *    scan (PushedFilters, plan-asserted), cost ∝ n_cand, recall 1.
    *  - POSTFILTER (loose label set): the IVF probe runs UNFILTERED
    *    with literal cell ids (partition pruning, plan-asserted) and
    *    non-matching labels are discarded after scoring — cost ∝
    *    probe volume regardless of how loose the filter is.
    *
    * The rule is the planner's, generalized from one label to the
    * set's candidate count: expected probe matches under uniformity
    * (n_cand·nprobe < k·nCells → a post-filtered top-k risks running
    * under-filled → prefilter) and the integer cost compare
    * (n_cand ≤ (n·nprobe) div nCells → the exact scan is no bigger
    * than the probe → prefilter). Both engines replay the identical
    * integer rule, so the route itself is oracle-checked — the output
    * carries `strategy` so a silent route flip fails the hash.
    *
    * Scale shape: costing is two map-side-combined counts (no new
    * scan shape); each branch is an already-plan-audited shape
    * (TakeOrdered exact scan / literal-cell pruned probe + window
    * group limit).
    */
  def plannedFilteredTopK(spark: SparkSession, dir: String, queryId: Long,
                          labels: Seq[Int], k: Int = 10, nCells: Int = 16,
                          nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    require(labels.nonEmpty, "label filter must name at least one label")
    val qv = memberVector(spark, dir, queryId)
    val (cells, _) = ensureIndex(spark, dir, nCells)
    val cnt = cells.agg(count(lit(1)).as("n"),
      count(when(col("label").isin(labels: _*), 1)).as("n_cand")).head
    val n = cnt.getLong(0)
    val nCand = cnt.getLong(1)
    val prefilter = nCand * nprobe < k.toLong * nCells ||
      nCand <= (n * nprobe) / nCells
    if (prefilter)
      TopK.ranked(VectorSearch.scoredByVec(Tables.embeddings(spark, dir), qv.map(_.toDouble),
          col("label").isin(labels: _*) && VectorSearch.notSelf(queryId))
        .select(lit("prefilter").as("strategy"), col("vec_id").as("n_id"), col("score")),
        k, "rk", byScore("n_id"): _*)
        .orderBy(col("rk"))
    else
      probe(spark, dir, qv, Some(queryId), col("label").isin(labels: _*), nCells, nprobe, k)
        .select(lit("postfilter").as("strategy"), col("n_id"), col("score"), col("rk"))
        .orderBy(col("rk"))
  }

  /** Recall/MRR curve over the persisted IVF — ONE probe plan and ONE
    * index scan at the DEEPEST measured nprobe; every shallower
    * setting's result set derives from the same cached candidates.
    * Correctness of the derivation: a candidate's `tier` is its cell's
    * probe rank, so the nprobe=p result is the top-k (score DESC,
    * n_id) among candidates with tier ≤ p — and that top-k is always
    * contained in the union of PER-TIER top-ks (if x wins against all
    * but < k of the union, it wins against all but < k of its own
    * tier), so cutting each tier to k rows first (WindowGroupLimit,
    * nq·npMax·k bound) loses nothing and keeps every later pass over
    * a bounded frame. The per-(q,p) ranks of surviving rows also
    * match the full ranking: anything that beat x is itself in the
    * union top-k and therefore retained. Replaces the r12 shape that
    * re-ran [[search]] per nprobe — |nprobes| corpus scans and probe
    * plans collapsed into one (the `ann_recall_eval` 2.17×-budget
    * burn-down), and the ScratchCache'd candidate/ground-truth frames
    * are keyed by canonicalized plan, so [[nprobePlanner]] — which
    * replays the same curve to cut it — reuses the eval's computation
    * instead of recomputing the whole sweep.
    *
    * No wall-clock column: timing evidence belongs to the bench
    * harness, and a timing-free frame is fully deterministic — with
    * the portable k-means fit this eval carries a hard DuckDB oracle.
    * HALF_UP rounding = SQL round() convention (oracle parity).
    */
  def recallEval(spark: SparkSession, dir: String, nCells: Int, queryMod: Int,
                 k: Int, nprobes: Seq[Int]): DataFrame = {
    val (assigned, centroids) = ensureIndex(spark, dir, nCells)
    val queries = VectorSearch.querySample(assigned, queryMod)
    val npMax = nprobes.max
    val probed0 = TopK.perKey(queries
      .crossJoin(broadcast(centroids))
      .withColumn("cdist",
        cosine(col("qv"), col("centroid"), col("qn"), l2norm(col("centroid")))),
      Seq(col("q_id")), npMax, "tier", byScore("cell", "cdist"): _*)
      .select(col("q_id"), col("qv"), col("qn"), col("cell"), col("tier"))
    val probed = graft.sources.ScratchCache.materialize(probed0)
    // bounded driver read: ≤ nCells distinct ids, never rows — the
    // literal ids partition-prune the index scan (the search() shape)
    val probedCells = probed.select(col("cell")).distinct()
      .collect().map(_.get(0)).toSeq
    import spark.implicits._
    val npDf = nprobes.toDF("nprobe")
    val perTier = TopK.perKey(assigned.where(col("cell").isin(probedCells: _*))
      .join(probed, Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("tier"),
        cosine5(col("embedding"), col("qv"), col("nrm"), col("qn")).as("score")),
      Seq(col("q_id"), col("tier")), k, "trk", byScore("n_id"): _*)
    val ranked0 = TopK.perKey(perTier.join(broadcast(npDf), col("tier") <= col("nprobe")),
      Seq(col("q_id"), col("nprobe")), k, "rk", byScore("n_id"): _*)
      .select(col("q_id"), col("n_id"), col("nprobe"), col("rk"))
    val ranked = graft.sources.ScratchCache.materialize(ranked0)
    val gt = graft.sources.ScratchCache.materialize(
      VectorSearch.recallGroundTruth(spark, dir, queryMod, k)
        .select(col("q_id"), col("n_id"), col("rk")))
    val nq = queries.count().toDouble
    val fold = VectorSearch.recallFold(ranked, gt, "nprobe", nq, k)
    nprobes.map { np =>
      val (precision, mrr) = fold.getOrElse(np, (0.0, 0.0))
      (np, precision, mrr, nq.toLong)
    }.toDF("nprobe", "Precision@K", "MRR", "QueriesUsed")
      .orderBy(col("nprobe"))
  }

  /** Operational stats for the persisted IVF index — the observability
    * a maintenance policy consumes: row/cell counts and occupancy skew
    * decide rebuild cadence (a drifted quantizer shows up as hot
    * cells), epoch count decides when to [[IndexStore.compact]], and
    * the tombstone count says how much every probe pays in anti-join.
    * Cost: one aggregate over the cell ids (column-pruned scan) plus
    * driver-side directory listings — no vector data is read.
    */
  def indexStats(spark: SparkSession, dir: String, nCells: Int = 16): DataFrame = {
    ensureIndex(spark, dir, nCells)
    val path = indexPath(spark, dir, nCells)
    val occ = IndexStore.open(spark, s"$path/cells")
      .groupBy(col("cell")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("cells"), sum(col("c")).as("rows"),
        min(col("c")).as("mn"), max(col("c")).as("mx"))
      .head()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epochs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/cells"))
      .count(_.getPath.getName.startsWith("epoch="))
    val tombPath = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
    val tombstones =
      if (!fs.exists(tombPath)) 0L
      else spark.read.parquet(tombPath.toString).count()
    val cells = occ.getLong(0)
    import spark.implicits._
    Seq(
      ("n_rows", occ.getLong(1).toDouble),
      ("n_cells", cells.toDouble),
      ("n_epochs", epochs.toDouble),
      ("n_tombstones", tombstones.toDouble),
      ("min_cell_rows", occ.getLong(2).toDouble),
      ("max_cell_rows", occ.getLong(3).toDouble),
      ("avg_cell_rows", occ.getLong(1).toDouble / cells),
      ("occupancy_skew_x", occ.getLong(3).toDouble / (occ.getLong(1).toDouble / cells)))
      .toDF("metric", "value")
  }

  /** Cluster-quality diagnostic for the IVF coarse quantizer: per
    * cell, the mean squared-L2 distance of members to their OWN
    * centroid (compactness) and the mean margin to the best OTHER
    * centroid (separation — near-zero margins mean probe spill:
    * nprobe must rise to hold recall; this is the number that says
    * whether nCells fits the corpus before a recall sweep spends
    * compute). Distances reuse the fit's EXACT left-to-right
    * Σ(aᵢ−bᵢ)² expression against the k-row centroid artifact (plan
    * literals — no join, no shuffle; the corpus is scanned once), so
    * the DuckDB oracle replays bit-for-bit; the per-vector margin is
    * ≥ 0 by the assignment's argmin. Means round to 4 (summation-
    * order drift absorbed).
    */
  def clusterQuality(spark: SparkSession, dir: String, nCells: Int = 16): DataFrame = {
    val (assigned, centroids) = ensureIndex(spark, dir, nCells)
    val cents = centroids.orderBy(col("cell")).collect()
      .map(r => r.getSeq[Double](1).toArray)
    val ds = array(cents.map { c =>
      aggregate(
        zip_with(col("embedding"), typedlit(c),
          (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v)
    }: _*)
    assigned
      .withColumn("ds", ds)
      .withColumn("own", element_at(col("ds"), col("cell") + 1))
      .withColumn("best_other",
        array_min(filter(col("ds"), (_, i) => i =!= col("cell"))))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("own")), 4).as("mean_d2_own"),
        round(avg(col("best_other") - col("own")), 4).as("mean_margin"))
      .orderBy(col("cell"))
  }
}
