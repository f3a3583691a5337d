package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._
import graft.sources.IndexStore

/** Scalar-quantized (SQ8) vector search — the Spark analog of FAISS's
  * IndexScalarQuantizer family (the memory-reduction sibling of the
  * reference's IVF index, reference app.py:360-440 trades recall for
  * speed the same way).
  *
  * Each float32 component is coded to an 8-bit level against the
  * global [min, max] of the corpus: a 64-dim vector shrinks 256 B →
  * 64 B, so at 100 TB the scan reads a quarter of the bytes and the
  * ranking dot product runs over small-integer arrays. Codes are
  * `floor((x - mn) / (mx - mn) * 256)` capped at 255 — floor (not
  * round) so the mapping is bit-deterministic in every engine — and
  * integer dot products of 64 codes ≤ 255 are exact in double, which
  * keeps the whole operator oracle-checkable.
  */
object Quantized {

  /** Corpus coded against its global component range. The two-pass
    * shape min/max quantization forces (pass 1: the global range
    * aggregate; pass 2: the quantize map) is made explicit: the 2
    * range doubles come back to the driver and ride pass 2 as PLAN
    * LITERALS — no broadcast join, and nothing re-executes the
    * aggregate subtree. A degenerate corpus (every component equal →
    * mx == mn) codes to 0 deterministically instead of floor(NaN).
    */
  def sq8Codes(spark: SparkSession, dir: String): DataFrame = {
    val ed = Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
    val st = ed.agg(
      min(array_min(col("emb"))).as("mn"),
      max(array_max(col("emb"))).as("mx")).head
    val (mn, mx) = (st.getDouble(0), st.getDouble(1))
    ed.select(col("vec_id"),
      transform(col("emb"),
        x => if (mx > mn)
          least(floor((x - lit(mn)) / (lit(mx) - lit(mn)) * 256), lit(255.0))
        else lit(0.0))
        .as("codes"),
      lit(mn).as("mn"), lit(mx).as("mx"))
  }

  /** Build-once SQ8 artifact: the coded corpus persisted under
    * [[graft.sources.IndexStore]] (fingerprint-addressed like the
    * IVF/LSH/PQ indexes) as two tables — `codes` (vec_id,
    * array<smallint>, csum) and `stats` (the global mn/mx, one row).
    * `csum` = Σcᵢ, precomputed at build so query-time scoring needs no
    * per-row array aggregation. The full-float corpus is scanned ONCE
    * per corpus fingerprint; every later query reads only the
    * small-int codes — the 4× bytes-read reduction that is SQ8's
    * entire value proposition at 100 TB. The artifact commits
    * atomically via [[IndexStore.publish]].
    */
  def ensureSq8Index(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val path = IndexStore.indexPath(spark, "sq8_v2", s"$dir/embeddings.parquet", "b256")
    IndexStore.publish(spark, path) { tmp =>
      val coded = sq8Codes(spark, dir)
      coded.select(col("mn"), col("mx")).limit(1)
        .write.mode("overwrite").parquet(s"$tmp/stats")
      coded
        .select(col("vec_id"), transform(col("codes"), _.cast("smallint")).as("codes"),
          aggregate(col("codes"), lit(0.0), (a, x) => a + x).as("csum"))
        .write.mode("overwrite").parquet(s"$tmp/codes")
    }
    (IndexStore.open(spark, s"$path/codes"), IndexStore.open(spark, s"$path/stats"))
  }

  /** Top-k by DECODED dot product — FAISS's SQ8 scoring: codes decode
    * to x̂ᵢ = mn + (cᵢ + 0.5)·s with s = (mx − mn)/256 (the raw code
    * dot is biased by the affine offset — ranking by it has ~0.1
    * precision against the exact cosine order, measured by familyEval;
    * decoded scoring is ~1.0). The decode is folded into the dot
    * ALGEBRAICALLY so the hot path stays in whole-stage codegen
    * (`transform`-based per-element decode is CodegenFallback):
    *
    *   Σ x̂ᵢq̂ᵢ = d·mn² + mn·s·(C + Q + d) + s²·(P + ½C + ½Q + ¼d)
    *
    * with C = Σcᵢ (persisted), Q = Σqᵢ, P = Σcᵢqᵢ, d = dim. C, Q, P, d
    * are EXACT integers in double, so the oracle computing the same
    * expression dag is bit-identical. Per corpus row: one codegen
    * VecDot over the cast codes plus scalar arithmetic — no array
    * materialization, no interpreted projection. Query stats and codes
    * ride as plan literals (driver-collected, bounded: dim ints + 2
    * doubles), mirroring [[graft.operators.Lsh.lshTopK]]'s probe
    * planning.
    */
  def sq8TopK(spark: SparkSession, dir: String, queryId: Long, k: Int): DataFrame = {
    val (codes, stats) = ensureSq8Index(spark, dir)
    // the member's stored CODE (never the float corpus) — a driver lookup
    val q = codes.where(col("vec_id") === queryId)
      .select(col("codes").cast("array<double>"), col("csum")).head(1).headOption
      .getOrElse(throw memberNotFound(s"$dir/embeddings.parquet", queryId))
    sq8TopKCore(codes, stats, q.getSeq[Double](0).toArray, q.getDouble(1),
      Some(queryId), k)
  }

  /** [[sq8TopK]] for a CALLER-SUPPLIED query vector (non-member
    * serving): the caller vector is ENCODED on the driver with the
    * build formula ([[sq8Codes]]: floor((x − mn)/(mx − mn)·256) capped
    * at 255), additionally clamped at 0 — a non-member component can
    * sit outside the corpus range, and FAISS's SQ encode saturates the
    * same way. Symmetric coded scoring, no self-exclusion.
    */
  def sq8TopKVec(spark: SparkSession, dir: String, qv: Array[Float], k: Int): DataFrame = {
    val (codes, stats) = ensureSq8Index(spark, dir)
    val st = stats.head
    val (mn, mx) = (st.getDouble(0), st.getDouble(1))
    val qd = qv.map { x =>
      if (mx > mn)
        math.max(0.0, math.min(math.floor((x.toDouble - mn) / (mx - mn) * 256), 255.0))
      else 0.0
    }
    sq8TopKCore(codes, stats, qd, qd.sum, None, k)
  }

  private def sq8TopKCore(codes: DataFrame, stats: DataFrame, qd: Array[Double],
                          qsum: Double, exclude: Option[Long], k: Int): DataFrame = {
    val st = stats.head
    val (mn, mx) = (st.getDouble(0), st.getDouble(1))
    val s = (mx - mn) / 256
    val dim = qd.length
    val p = dotd(col("codes").cast("array<double>"), typedlit(qd))
    TopK.first(codes.where(exclude.map(col("vec_id") =!= _).getOrElse(lit(true)))
      .select(col("vec_id"),
        round(lit(dim) * lit(mn) * lit(mn)
          + lit(mn) * lit(s) * (col("csum") + lit(qsum) + lit(dim))
          + lit(s) * lit(s) * (p + lit(0.5) * col("csum") + lit(0.5) * lit(qsum)
            + lit(0.25) * lit(dim)), 5).as("score_q")),
      k, TopK.byScore("vec_id", "score_q"): _*)
  }

  /** Product-quantization codebooks: the embedding space split into
    * `m` subspaces, each clustered into `kCents` centroids by plain
    * Lloyd's iterations on a DRIVER-side seeded sample (the coarse
    * codebook fit is O(sample·kCents·dim) scalar work — tiny — and
    * sampling is how FAISS trains IndexPQ too; a full-corpus fit buys
    * nothing). Deterministic: fixed seed, fixed iteration count,
    * ties to the lowest centroid index.
    * Returns codebooks(sub)(centroid)(component).
    */
  def pqFit(spark: SparkSession, dir: String, m: Int, kCents: Int,
            sampleRows: Int = 2048): Array[Array[Array[Double]]] = {
    // ENGINE-PORTABLE sample (the same recipe as Ivf.fitAndAssign):
    // vec_id-mod selection sorted by id — a `limit` in file order
    // would be irreproducible by the external oracle
    val e = Tables.embeddings(spark, dir)
    val total = e.count()
    val step = math.max(1L, (total + sampleRows - 1) / sampleRows)
    val sample = e.where(col("vec_id") % step === 0)
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id")).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    fitCodebooks(sample, m, kCents, s"no embeddings under $dir")
  }

  /** Per-subspace Lloyd's fit over a driver-side sample — shared by
    * the raw-vector ([[pqFit]]) and residual ([[ensureIvfPqResIndex]])
    * codebook trainings. Deterministic: fixed init (first kCents
    * subvectors), fixed 10 rounds, empty cells keep their previous
    * centroid.
    */
  private def fitCodebooks(sample: Array[Array[Double]], m: Int, kCents: Int,
                           emptyMsg: String): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, emptyMsg)
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    Array.tabulate(m) { s =>
      val xs = sample.map(v => v.slice(s * sub, (s + 1) * sub))
      // k-means++-free init: the first kCents sample subvectors, then
      // 10 Lloyd's rounds; empty cells keep their previous centroid
      var cents = xs.take(kCents)
      if (cents.length < kCents) cents = Array.tabulate(kCents)(i => cents(i % cents.length))
      var iter = 0
      while (iter < 10) {
        val sums = Array.fill(kCents)(new Array[Double](sub))
        val counts = new Array[Long](kCents)
        xs.foreach { x =>
          var bi = 0; var bd = Double.MaxValue; var c = 0
          while (c < kCents) {
            var d = 0.0; var i = 0
            while (i < sub) { val t = x(i) - cents(c)(i); d += t * t; i += 1 }
            if (d < bd) { bd = d; bi = c }
            c += 1
          }
          var i = 0
          while (i < sub) { sums(bi)(i) += x(i); i += 1 }
          counts(bi) += 1
        }
        // FLOAT32-quantize each round's centroids (as Ivf's portable
        // fit does): mean-accumulation order noise rounds away, so an
        // engine replaying the recipe with unordered aggregation
        // lands on bit-identical codebooks
        cents = Array.tabulate(kCents)(c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(x => (x / counts(c)).toFloat.toDouble))
        iter += 1
      }
      cents
    }
  }

  /** Corpus encoded to PQ codes: per subspace, the index of the
    * nearest codebook centroid — dim floats shrink to m small ints
    * (8 bytes a vector at m=8). Encoding is a pure codegen projection:
    * centroids ride as plan literals, distances via the dot identity
    * (the subvector self-dot computed once per subspace), argmin =
    * array_position of the array minimum (exact double equality —
    * the min IS an element).
    */
  def pqEncode(spark: SparkSession, dir: String,
               codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val codeCols = (0 until m).map { s =>
      val slice = expr(s"transform(slice(embedding, ${s * sub + 1}, $sub), x -> cast(x as double))")
      val ss = dotd(slice, slice)
      val ds = array(codebooks(s).map { c =>
        val cc = c.map(x => x * x).sum
        ss + lit(cc) - lit(2.0) * dotd(slice, typedlit(c))
      }: _*)
      (array_position(ds, array_min(ds)) - 1).cast("int").as(s"c$s")
    }
    Tables.embeddings(spark, dir)
      .select(col("vec_id") +: codeCols: _*)
      .select(col("vec_id"), array((0 until m).map(s => col(s"c$s")): _*).as("codes"))
  }

  /** Build-once PQ artifact: codebooks + the encoded corpus persisted
    * under [[graft.sources.IndexStore]] (fingerprint-addressed like
    * the IVF/LSH indexes). ENCODING is the expensive half of PQ at
    * scale — one full-corpus codegen pass — so it runs once per corpus
    * fingerprint × (m, kCents); every later query reads only the
    * m-byte codes. Codes are written LAST: their _SUCCESS marks a
    * complete artifact.
    */
  def ensurePqIndex(spark: SparkSession, dir: String, m: Int, kCents: Int)
      : (DataFrame, Array[Array[Array[Double]]]) =
    ensurePqIndexAt(spark, dir, m, kCents, corpusFingerprint(spark, dir))

  /** The corpus fingerprint every artifact path below derives from —
    * resolved once per request and passed down, so one IVFPQ request
    * lists and hashes `embeddings.parquet` once.
    */
  private def corpusFingerprint(spark: SparkSession, dir: String): String =
    IndexStore.fingerprint(spark, s"$dir/embeddings.parquet")

  /** [[ensurePqIndex]] over the resolved corpus fingerprint `fp`. */
  private def ensurePqIndexAt(spark: SparkSession, dir: String, m: Int, kCents: Int, fp: String)
      : (DataFrame, Array[Array[Array[Double]]]) = {
    import spark.implicits._
    val path = IndexStore.pathOf(spark, "pq_v2", fp, s"${m}_$kCents")
    // staged under a hidden .tmp-* sibling, committed by one atomic rename — racing
    // sessions can't interleave a reader with a half-written artifact
    IndexStore.publish(spark, path) { tmp =>
      val books = pqFit(spark, dir, m, kCents)
      books.zipWithIndex.flatMap { case (cents, s) =>
        cents.zipWithIndex.map { case (c, j) => (s, j, c) }
      }.toSeq.toDF("sub", "cent", "centroid")
        .write.mode("overwrite").parquet(s"$tmp/books")
      pqEncode(spark, dir, books)
        .write.mode("overwrite").parquet(s"$tmp/codes")
    }
    // the collected codebooks are immutable per artifact path — memoize
    // so repeat queries skip the collect job (DriverMemo scaladoc)
    val books = graft.sources.DriverMemo.memo(spark, s"$path/books#rows") {
      IndexStore.open(spark, s"$path/books").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .groupBy(_._1).toArray.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3))
    }
    (IndexStore.open(spark, s"$path/codes"), books)
  }

  /** PQ top-k via Asymmetric Distance Computation — FAISS IndexPQ's
    * search: the query stays exact; per subspace a kCents-entry lookup
    * table of ‖q_sub − centroid‖² is built ON THE DRIVER (m·kCents·sub
    * scalar ops), ships as plan literals, and a corpus row's
    * approximate distance is m table lookups + adds — no dot products
    * against the corpus at all. The scan reads only the m-byte codes:
    * at 100 TB this is the 32× bytes-read reduction the index family
    * exists for (SQ8 cuts 4×, PQ cuts dim·4/m).
    */
  def pqTopK(spark: SparkSession, dir: String, queryId: Long, k: Int,
             m: Int = 8, kCents: Int = 16): DataFrame =
    pqTopKCore(spark, dir, memberVector(spark, dir, queryId).map(_.toDouble), Some(queryId),
      k, m, kCents)

  /** [[pqTopK]] for a CALLER-SUPPLIED query vector (non-member
    * serving): ADC is already asymmetric — the query stays an exact
    * float vector and only folds into the driver LUT — so the vector
    * variant is the id variant minus the corpus lookup and the
    * self-exclusion.
    */
  def pqTopKVec(spark: SparkSession, dir: String, qv: Array[Float], k: Int,
                m: Int = 8, kCents: Int = 16): DataFrame =
    pqTopKCore(spark, dir, qv.map(_.toDouble), None, k, m, kCents)

  private def pqTopKCore(spark: SparkSession, dir: String, qd: Array[Double],
                         exclude: Option[Long], k: Int, m: Int, kCents: Int): DataFrame = {
    val (codes, codebooks) = ensurePqIndex(spark, dir, m, kCents)
    val adc = adcColumn(codebooks, qd)
    TopK.first(codes
      .where(exclude.map(col("vec_id") =!= _).getOrElse(lit(true)))
      .select(col("vec_id"), round(adc, 5).as("adc_dist")),
      k, col("adc_dist"), col("vec_id"))
  }

  /** The ADC scoring column for one query against the codebooks: the
    * per-subspace ‖q_sub − centroid‖² lookup tables fold on the driver
    * (m·kCents·sub scalar ops) and ship as plan literals; scoring a
    * row is m native element_at lookups + adds — whole-stage codegen,
    * no per-row array math.
    */
  private def adcColumn(codebooks: Array[Array[Array[Double]]], qv: Array[Double]): Column = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val lut = Array.tabulate(m) { s =>
      codebooks(s).map { c =>
        var d = 0.0; var i = 0
        while (i < sub) { val t = qv(s * sub + i) - c(i); d += t * t; i += 1 }
        d
      }
    }
    (0 until m).map(s =>
      element_at(typedlit(lut(s)), element_at(col("codes"), s + 1) + 1)).reduce(_ + _)
  }

  /** Build-once IVF+PQ composite index — the Spark analog of FAISS
    * IndexIVFPQ, the index family's billion-scale workhorse: the PQ
    * codes stored INSIDE the cell-partitioned layout, so one artifact
    * serves both the coarse probe (partition pruning on `cell`) and
    * the fine ranking (m-byte ADC codes). Rows carry ONLY (vec_id,
    * codes): a probed partition reads m bytes a row — the dim·4/m
    * reduction compounded with the nprobe/nCells scan cut.
    *
    * NON-RESIDUAL encoding (FAISS's by_residual=false): codes quantize
    * raw vectors against the GLOBAL codebooks, not per-cell residuals
    * — so the codebooks stay cell-independent, cells can be re-fit
    * without re-encoding, and a full probe ranks EXACTLY like flat
    * PQ/ADC (the equality contract VectorSearchSpec asserts). Residual
    * encoding buys finer quantization at the cost of coupling every
    * code to its cell's centroid; at that point incremental cell
    * maintenance ([[Ivf.appendToIndex]]) forces a re-encode.
    */
  def ensureIvfPqIndex(spark: SparkSession, dir: String, nCells: Int,
                       m: Int, kCents: Int): DataFrame =
    ensureIvfPqIndexAt(spark, dir, nCells, m, kCents, corpusFingerprint(spark, dir))

  /** [[ensureIvfPqIndex]] over the resolved corpus fingerprint `fp`. */
  private def ensureIvfPqIndexAt(spark: SparkSession, dir: String, nCells: Int,
                                 m: Int, kCents: Int, fp: String): DataFrame = {
    val path = IndexStore.pathOf(spark, "ivfpq_v3", fp, s"${nCells}_${m}_$kCents")
    IndexStore.publish(spark, path) { tmp =>
      val (assigned, _) = Ivf.ensureIndex(spark, dir, nCells)
      val (codes, _) = ensurePqIndexAt(spark, dir, m, kCents, fp)
      // one build-time shuffle marries the two persisted artifacts;
      // queries never pay it again. epoch=base keeps the layout
      // maintenance-compatible (IndexStore.compact commits sibling
      // epoch dirs).
      codes.join(assigned.select(col("vec_id"), col("cell")), "vec_id")
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$tmp/epoch=base")
    }
    // per-artifact tombstones (each index maintains its own deletes,
    // like separate FAISS indexes) — subtracted at open, no rewrite
    IndexStore.minusTombstones(spark, path, IndexStore.open(spark, path))
      .drop("epoch")
  }

  /** IVFPQ search: driver-side probe planning exactly like
    * [[Ivf.ivfTopK]] (rank nCells centroids against the query, emit
    * LITERAL probed-cell ids → Catalyst prunes the partitioned scan),
    * then ADC ranking exactly like [[pqTopK]] (driver LUT as plan
    * literals, m element_at lookups per row). Per query the cluster
    * touches nprobe/nCells of an m-bytes-per-row index and runs zero
    * corpus dot products.
    */
  def ivfPqTopK(spark: SparkSession, dir: String, queryId: Long, nCells: Int,
                nprobe: Int, k: Int, m: Int = 8, kCents: Int = 16): DataFrame =
    ivfPqTopKCore(spark, dir, memberVector(spark, dir, queryId).map(_.toDouble), Some(queryId),
      nCells, nprobe, k, m, kCents)

  /** [[ivfPqTopK]] for a CALLER-SUPPLIED query vector (non-member
    * serving): same probe planning and ADC LUT, no self-exclusion.
    */
  def ivfPqTopKVec(spark: SparkSession, dir: String, qv: Array[Float], nCells: Int,
                   nprobe: Int, k: Int, m: Int = 8, kCents: Int = 16): DataFrame =
    ivfPqTopKCore(spark, dir, qv.map(_.toDouble), None, nCells, nprobe, k, m, kCents)

  private def ivfPqTopKCore(spark: SparkSession, dir: String, qv: Array[Double],
                            exclude: Option[Long], nCells: Int, nprobe: Int,
                            k: Int, m: Int, kCents: Int): DataFrame = {
    val fp = corpusFingerprint(spark, dir)
    val (_, codebooks) = ensurePqIndexAt(spark, dir, m, kCents, fp)
    val idx = ensureIvfPqIndexAt(spark, dir, nCells, m, kCents, fp)
    // memoized centroid table (Ivf.centroidRows) — probe planning
    // without the per-call centroid collect job
    val probed = Ivf.rankCellsArr(
      Ivf.centroidRows(spark, dir, nCells, Ivf.indexPathOf(spark, fp, nCells)),
      qv.map(_.toFloat)).take(nprobe)
    val adc = adcColumn(codebooks, qv)
    TopK.first(idx.where(col("cell").isin(probed: _*))
      .where(exclude.map(col("vec_id") =!= _).getOrElse(lit(true)))
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        round(adc, 5).as("adc_dist")),
      k, col("adc_dist"), col("vec_id"))
  }

  /** Build-once RESIDUAL IVF+PQ index — FAISS IndexIVFPQ's DEFAULT
    * encoding (`by_residual=true`): each vector is coded as its
    * residual against its cell's coarse centroid, r = x − c(cell),
    * so the codebooks only span the within-cell displacement — a far
    * tighter box than the whole corpus — and RECONSTRUCTION error
    * drops at the same m (measured ~11% lower on the test corpus;
    * spec-asserted). The trade vs the non-residual
    * [[ensureIvfPqIndex]]: every code is coupled to its cell centroid
    * (query LUTs become per-probed-cell, and a centroid re-fit forces
    * re-encoding), which is why the engine keeps both variants.
    * Finer reconstruction does NOT automatically buy higher ADC
    * recall — when quantization noise is comparable to the
    * neighbor-distance spread (small m on a tight corpus) the ranking
    * is noise-dominated for both variants; [[Ivf.familyEval]] reports
    * both rows so the trade is measured, not assumed.
    * Residual codebooks fit on a driver sample of residuals (same
    * Lloyd's as [[pqFit]]); encoding is one build-time corpus pass;
    * the artifact is cell-partitioned (vec_id, codes) exactly like
    * the non-residual composite.
    */
  def ensureIvfPqResIndex(spark: SparkSession, dir: String, nCells: Int,
                          m: Int, kCents: Int, sampleRows: Int = 2048)
      : (DataFrame, Array[Array[Array[Double]]]) =
    ensureIvfPqResIndexAt(spark, dir, nCells, m, kCents, corpusFingerprint(spark, dir), sampleRows)

  /** [[ensureIvfPqResIndex]] over the resolved corpus fingerprint `fp`. */
  private def ensureIvfPqResIndexAt(spark: SparkSession, dir: String, nCells: Int,
                                    m: Int, kCents: Int, fp: String, sampleRows: Int = 2048)
      : (DataFrame, Array[Array[Array[Double]]]) = {
    import spark.implicits._
    val path = IndexStore.pathOf(spark, "ivfpqr_v3", fp, s"${nCells}_${m}_$kCents")
    IndexStore.publish(spark, path) { tmp =>
      val (assigned, centroids) = Ivf.ensureIndex(spark, dir, nCells)
      val cents = centroidArrays(centroids)
      // fit on a sample of RESIDUALS (x − c(cell)), not raw vectors;
      // sorted mod-step selection (not `limit` file order) so the
      // external oracle can reproduce the sample exactly
      val totalA = assigned.count()
      val stepA = math.max(1L, (totalA + sampleRows - 1) / sampleRows)
      val sample = assigned.select(col("vec_id"), col("embedding"), col("cell"))
        .where(col("vec_id") % stepA === 0).orderBy(col("vec_id")).collect()
        .map { r =>
          val x = r.getSeq[Float](1).toArray
          val c = cents(r.getInt(2))
          Array.tabulate(x.length)(i => x(i).toDouble - c(i))
        }
      val books = fitCodebooks(sample, m, kCents, s"no embeddings under $dir")
      books.zipWithIndex.flatMap { case (cs, s) =>
        cs.zipWithIndex.map { case (c, j) => (s, j, c) }
      }.toSeq.toDF("sub", "cent", "centroid")
        .write.mode("overwrite").parquet(s"$tmp/books")
      // encode residuals: per row the cell centroid rides a literal
      // array indexed by `cell`; build-time only, so the higher-order
      // zip_with/aggregate fallback is acceptable (queries never run it)
      val sub = sample.head.length / m
      val centLit = typedlit(cents.map(_.toSeq).toSeq)
      val centRow = element_at(centLit, col("cell") + 1)
      val codeCols = (0 until m).map { s =>
        val es = expr(s"transform(slice(embedding, ${s * sub + 1}, $sub), x -> cast(x as double))")
        val cs = slice(centRow, s * sub + 1, sub)
        val rs = zip_with(es, cs, (x, c) => x - c)
        val ds = array(books(s).map { cb =>
          aggregate(zip_with(rs, typedlit(cb.toSeq), (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, x) => a + x)
        }: _*)
        (array_position(ds, array_min(ds)) - 1).cast("int").as(s"c$s")
      }
      assigned.select(col("vec_id") +: col("cell") +: codeCols: _*)
        .select(col("vec_id"), array((0 until m).map(s => col(s"c$s")): _*).as("codes"),
          col("cell"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$tmp/codes/epoch=base")
    }
    // memoized like ensurePqIndex's books — immutable per path
    val books = graft.sources.DriverMemo.memo(spark, s"$path/books#rows") {
      IndexStore.open(spark, s"$path/books").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .groupBy(_._1).toArray.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3))
    }
    (IndexStore.minusTombstones(spark, path, IndexStore.open(spark, s"$path/codes"))
      .drop("epoch"),
      books)
  }

  private def centroidArrays(centroids: DataFrame): Array[Array[Double]] =
    centroids.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)

  /** Residual IVFPQ search: probe planning like [[ivfPqTopK]], but the
    * ADC tables are PER PROBED CELL — cell c's LUT measures
    * ‖(q − centroid_c)_sub − codebook entry‖², because the stored code
    * approximates the residual against c. The nprobe LUTs fold on the
    * driver and ship as plan literals inside one when-chain keyed by
    * the (literal-pruned) `cell` column; scoring stays m element_at
    * lookups + adds per row, zero corpus dot products.
    */
  def ivfPqResidualTopK(spark: SparkSession, dir: String, queryId: Long, nCells: Int,
                        nprobe: Int, k: Int, m: Int = 8, kCents: Int = 16): DataFrame =
    ivfPqResidualTopKCore(spark, dir, memberVector(spark, dir, queryId).map(_.toDouble),
      Some(queryId), nCells, nprobe, k, m, kCents)

  /** [[ivfPqResidualTopK]] for a CALLER-SUPPLIED query vector
    * (non-member serving): per-probed-cell residual LUTs, no
    * self-exclusion.
    */
  def ivfPqResidualTopKVec(spark: SparkSession, dir: String, qv: Array[Float],
                           nCells: Int, nprobe: Int, k: Int,
                           m: Int = 8, kCents: Int = 16): DataFrame =
    ivfPqResidualTopKCore(spark, dir, qv.map(_.toDouble), None,
      nCells, nprobe, k, m, kCents)

  private def ivfPqResidualTopKCore(spark: SparkSession, dir: String,
                                    qv: Array[Double], exclude: Option[Long],
                                    nCells: Int, nprobe: Int, k: Int,
                                    m: Int, kCents: Int): DataFrame = {
    val fp = corpusFingerprint(spark, dir)
    val (idx, books) = ensureIvfPqResIndexAt(spark, dir, nCells, m, kCents, fp)
    // memoized centroid table — same rows centroidArrays() collected,
    // sorted by cell id, without the per-call collect job
    val centRows = Ivf.centroidRows(spark, dir, nCells, Ivf.indexPathOf(spark, fp, nCells))
    val cents = centRows.sortBy(_._1).map(_._2)
    val probed = Ivf.rankCellsArr(centRows, qv.map(_.toFloat)).take(nprobe)
    def qResidual(c: Int): Array[Double] =
      Array.tabulate(qv.length)(i => qv(i) - cents(c)(i))
    val dist = probed.tail.foldLeft(
      when(col("cell") === probed.head, adcColumn(books, qResidual(probed.head)))) {
      (acc, c) => acc.when(col("cell") === c, adcColumn(books, qResidual(c)))
    }
    TopK.first(idx.where(col("cell").isin(probed: _*))
      .where(exclude.map(col("vec_id") =!= _).getOrElse(lit(true)))
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        round(dist, 5).as("adc_dist")),
      k, col("adc_dist"), col("vec_id"))
  }

  /** Two-stage retrieve-then-rerank — FAISS's IndexRefineFlat pattern,
    * the production shape for quantized search: the IVFPQ index
    * shortlists `c` candidates by ADC (m-byte rows, pruned
    * partitions, no corpus dot products), then ONLY those c rows are
    * rescored with the exact float cosine. The shortlist ids come
    * back to the driver (bounded: c longs — the same probe-planning
    * trade as the literal cell ids) so the rescoring scan carries a
    * literal-id pushdown filter instead of a join. Quantization error
    * then affects only RECALL (a true neighbor missing from the
    * shortlist), never the returned ORDER — with c = corpus and a
    * full probe this equals exact flat search row-for-row (the
    * contract VectorSearchSpec asserts).
    */
  def ivfPqRerankTopK(spark: SparkSession, dir: String, queryId: Long, nCells: Int,
                      nprobe: Int, c: Int, k: Int, m: Int = 8, kCents: Int = 16): DataFrame =
    ivfPqRerankTopKCore(spark, dir, memberVector(spark, dir, queryId).map(_.toDouble),
      Some(queryId), nCells, nprobe, c, k, m, kCents)

  /** [[ivfPqRerankTopK]] for a CALLER-SUPPLIED query vector
    * (non-member serving): the same shortlist and exact rescore, no
    * corpus lookup, no self-exclusion.
    */
  def ivfPqRerankTopKVec(spark: SparkSession, dir: String, qv: Array[Float],
                         nCells: Int, nprobe: Int, c: Int, k: Int,
                         m: Int = 8, kCents: Int = 16): DataFrame =
    ivfPqRerankTopKCore(spark, dir, qv.map(_.toDouble), None, nCells, nprobe, c, k, m, kCents)

  /** The `c`-row ADC shortlist ([[ivfPqTopKCore]], `exclude` applied
    * there), collected as literal ids, rescored by the exact by-vector
    * scorer.
    */
  private def ivfPqRerankTopKCore(spark: SparkSession, dir: String, qv: Array[Double],
                                  exclude: Option[Long], nCells: Int, nprobe: Int,
                                  c: Int, k: Int, m: Int, kCents: Int): DataFrame = {
    val shortlist = ivfPqTopKCore(spark, dir, qv, exclude, nCells, nprobe, c, m, kCents)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    TopK.first(VectorSearch.scoredByVec(Tables.embeddings(spark, dir), qv,
      col("vec_id").isin(shortlist: _*)), k, TopK.byScore("vec_id"): _*)
  }

  /** Rerank-depth sweep — prices the [[ivfPqRerankTopK]] shortlist
    * depth `c` against exact recall, the knob the sf50 scale point
    * showed MUST grow with corpus density (c=50 recovered nothing over
    * raw ADC at 1 M vectors while sufficing at 2 k — BASELINE.md's
    * family table). For each depth: Recall@k of
    * "ADC-rank the probed cells, keep the top-c, exact-rerank those c"
    * against the true exact top-k.
    *
    * One-pass shape (the sweep costs ONE search, not |cs|): depths'
    * shortlists provably NEST — every depth's shortlist is a prefix of
    * the single deepest ADC ranking — so one probe + one exact-scoring
    * pass over ≤ max(cs) rows serves every cut; per-depth top-k and
    * the ≤ k-row ground-truth intersection are bounded driver math
    * (the probe-plan convention).
    */
  def rerankDepthSweep(spark: SparkSession, dir: String, queryId: Long = 0L,
                       nCells: Int = 16, nprobe: Int = 4, k: Int = 10,
                       cs: Seq[Int] = Seq(10, 25, 50, 100)): DataFrame = {
    import spark.implicits._
    val cMax = cs.max
    val qv = memberVector(spark, dir, queryId)
    val e = Tables.embeddings(spark, dir)
    // ranked prefix source: the ivfPqTopK shortlist at the deepest depth
    val short = ivfPqTopKCore(spark, dir, qv.map(_.toDouble), Some(queryId), nCells, nprobe,
        cMax, m = 8, kCents = 16)
      .select(col("vec_id")).collect().map(_.getLong(0))
    // one exact-scoring pass over the deepest shortlist (≤ cMax rows)
    val scored = VectorSearch.scoredByVec(e, qv.map(_.toDouble), col("vec_id").isin(short: _*))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gt = VectorSearch.memberTopK(e, qv, queryId, k)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val rows = cs.sorted.map { c =>
      val prefix = short.take(c)
      val topk = prefix.map(id => (id, scored(id)))
        .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
      val hits = topk.count(gt.contains).toLong
      (c.toLong, prefix.length.toLong, hits,
        math.floor(hits.toDouble / k * 1e5 + 0.5) / 1e5)
    }
    rows.toDF("c", "shortlist", "n_hits", "recall_at_k").orderBy(col("c"))
  }

  /** Rerank-depth planner — CONSUMES [[rerankDepthSweep]]'s measured
    * curve the way [[Ivf.nprobePlanner]] consumes [[Ivf.recallEval]]'s:
    * pick the SMALLEST shortlist depth c whose measured Recall@k
    * clears the target. When a probe depth's whole curve sits below
    * target (the r14 1 M-vector finding: at 500× density the m=8 ADC
    * ranking buries true neighbors deeper than any payable c — recall
    * FLAT at 0.4 from c=10 to c=100), deepening c buys nothing;
    * the planner ESCALATES nprobe instead (more probed cells admit
    * more true neighbors into the ADC ranking at all) and takes the
    * first (nprobe ASC, c ASC) pair that clears. Falls back to the
    * deepest measured (nprobe, c) when nothing clears.
    *
    * The driver loop stops at the first clearing probe depth; the
    * oracle computes every curve and applies the same total-order cut
    * — identical pick. Decisions come from the hard-oracled measured
    * curve (floor-rounded 5-decimal recall), so the CHOICE itself
    * replays cross-engine.
    */
  def rerankPlanner(spark: SparkSession, dir: String, queryId: Long = 0L,
                    target: Double = 0.9, nCells: Int = 16, k: Int = 10,
                    nprobes: Seq[Int] = Seq(4, 8),
                    cs: Seq[Int] = Seq(10, 25, 50, 100)): DataFrame = {
    import spark.implicits._
    var picked: Option[(Int, Long, Double)] = None
    var deepest: (Int, Long, Double) = null
    val it = nprobes.sorted.iterator
    while (picked.isEmpty && it.hasNext) {
      val np = it.next()
      val curve = rerankDepthSweep(spark, dir, queryId, nCells, np, k, cs).collect()
        .map(r => (r.getLong(0), r.getDouble(3)))
      val met = curve.filter(_._2 >= target)
      if (met.nonEmpty) {
        val (c, rec) = met.minBy(_._1)
        picked = Some((np, c, rec))
      }
      val (cMax, recMax) = curve.maxBy(_._1)
      deepest = (np, cMax, recMax)
    }
    val met = picked.isDefined
    val (np, c, rec) = picked.getOrElse(deepest)
    Seq((target, np.toLong, c, rec, met))
      .toDF("target_recall", "nprobe", "c", "recall_at_k", "target_met")
  }

  /** Johnson-Lindenstrauss random projection — the DIMENSION-reduction
    * sibling of SQ8's per-component compression: project each
    * embedding onto `outDim` fixed seed-42 gaussian directions (scaled
    * 1/√outDim, the JL normalization that approximately preserves
    * pairwise distances). A 64-dim float corpus shrinks 8× at
    * outDim=8 before any ANN indexing; the op itself is a pure
    * narrow map — outDim codegen'd VecDots per row, no shuffle, no
    * driver data. The projection directions ship as plan literals so
    * the same query is reproducible in any engine.
    */
  def randomProject(spark: SparkSession, dir: String, outDim: Int = 8): DataFrame = {
    val inDim = Lsh.embeddingDim(spark, dir)
    val planes = Lsh.hyperplaneArrays(outDim, inDim)
    val scale = math.sqrt(outDim.toDouble)
    val comps = planes.zipWithIndex.map { case (p, i) =>
      round(dotd(col("embedding"), typedlit(p)) / lit(scale), 5).as(s"p$i")
    }
    Tables.embeddings(spark, dir)
      .select(col("vec_id") +: comps: _*)
      .orderBy(col("vec_id"))
  }

  /** The fitted PCA model behind [[pcaProject]]: `outDim` principal
    * directions (sign-canonicalized: each component's largest-|w|
    * element is positive, removing the eigenvector sign ambiguity) and
    * the mean's projection onto each. Fit is MLlib RowMatrix — the
    * d×d covariance accumulates DISTRIBUTED via treeAggregate (one
    * corpus pass, d²-sized partials), only the 64×64 eigenproblem
    * runs on the driver — the same bounded-driver-state shape as the
    * IVF k-means fit.
    */
  private[graft] def pcaModel(spark: SparkSession, dir: String,
                              outDim: Int): (Seq[Array[Float]], Array[Double]) = {
    import org.apache.spark.mllib.linalg.Vectors
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = Tables.embeddings(spark, dir).select(col("embedding")).rdd
      .map(r => Vectors.dense(r.getSeq[Float](0).map(_.toDouble).toArray))
    val mat = new RowMatrix(rows)
    val inDim = mat.numCols().toInt
    val pc = mat.computePrincipalComponents(outDim)
    val mean = mat.computeColumnSummaryStatistics().mean.toArray
    val comps = (0 until outDim).map { j =>
      val w = Array.tabulate(inDim)(i => pc(i, j))
      val s = if (w.maxBy(math.abs) < 0) -1.0 else 1.0
      w.map(x => (x * s).toFloat)
    }
    val meanProj = comps.map(w =>
      w.indices.foldLeft(0.0)((acc, i) => acc + mean(i) * w(i))).toArray
    (comps, meanProj)
  }

  /** PCA projection — the LEARNED compression next to [[randomProject]]'s
    * oblivious one, and the rotation OPQ (Ge et al. 2013) applies
    * before product quantization: center, then project onto the top
    * `outDim` principal directions, which maximizes retained variance
    * for the dimension budget (JL only preserves distances in
    * expectation). The fitted directions ship back as PLAN LITERALS,
    * so the projection itself is `outDim` codegen'd VecDots per row
    * minus a precomputed mean offset — a pure narrow map, no shuffle,
    * no driver data on the query path (plan-asserted like
    * embed_project). Rows-only by design: the eigendecomposition is
    * not SQL-expressible (same class as the k-means queries).
    */
  def pcaProject(spark: SparkSession, dir: String, outDim: Int = 8): DataFrame = {
    val (comps, meanProj) = pcaModel(spark, dir, outDim)
    val cols = comps.zipWithIndex.map { case (w, j) =>
      round(dotd(col("embedding"), typedlit(w)) - lit(meanProj(j)), 5).as(s"c$j")
    }
    Tables.embeddings(spark, dir)
      .select(col("vec_id") +: cols: _*)
      .orderBy(col("vec_id"))
  }

  /** Invariant oracle for [[pcaProject]] — the eigendecomposition is
    * sign/rotation-ambiguous so no SQL oracle can replay the
    * PROJECTION, but what a correct PCA must satisfy is exactly
    * decidable and collapses to CONSTANTS, which the DuckDB oracle
    * asserts as a literal table (r10 verdict task 3):
    *
    *  - `ortho_diag_min`/`ortho_diag_max`: every fitted direction has
    *    unit norm (rounded dot = 1.0),
    *  - `ortho_max_offdiag`: directions are pairwise orthogonal
    *    (max |dot| rounds to 0.0),
    *  - `proj_mean_max`: projections are centered — the mean of every
    *    component over the corpus rounds to 0.0,
    *  - `var_descending`: component variances are non-ascending
    *    (eigenvalue order), reported as 1.0/0.0,
    *  - `explained_le_total`: the summed component variances cannot
    *    exceed the total variance of the centered corpus (projection
    *    onto an orthonormal basis; Parseval), reported as 1.0/0.0.
    *
    * Driver work is the d·outDim model (already bounded); the corpus
    * pass is ONE map-side-combined aggregate over the unrounded
    * projections plus one per-dimension variance aggregate — both
    * linear scans, no shuffle wider than d rows.
    */
  def pcaInvariants(spark: SparkSession, dir: String, outDim: Int = 8): DataFrame = {
    import spark.implicits._
    val (comps, meanProj) = pcaModel(spark, dir, outDim)
    val dots = for (i <- comps.indices; j <- comps.indices) yield
      (i, j, comps(i).indices.foldLeft(0.0)((s, t) =>
        s + comps(i)(t).toDouble * comps(j)(t).toDouble))
    val offMax = dots.collect { case (i, j, d) if i != j => math.abs(d) }.max
    val diags = dots.collect { case (i, j, d) if i == j => d }
    val projCols = comps.zipWithIndex.map { case (w, j) =>
      (dotd(col("embedding"), typedlit(w)) - lit(meanProj(j))).as(s"c$j")
    }
    val aggs = (0 until outDim).map(j => var_pop(col(s"c$j")).as(s"v$j")) ++
      (0 until outDim).map(j => avg(col(s"c$j")).as(s"m$j"))
    val row = Tables.embeddings(spark, dir).select(projCols: _*)
      .agg(aggs.head, aggs.tail: _*).head
    val vars = (0 until outDim).map(row.getDouble)
    val meanMax = (0 until outDim).map(j => math.abs(row.getDouble(outDim + j))).max
    val totalVar = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(var_pop(col("x")).as("v"))
      .agg(sum(col("v"))).head.getDouble(0)
    val descending = vars.sliding(2).forall(p => p.length < 2 || p(0) >= p(1) - 1e-9)
    Seq(
      ("explained_le_total", if (vars.sum <= totalVar + 1e-6) 1.0 else 0.0),
      ("ortho_diag_max", r5(diags.max)),
      ("ortho_diag_min", r5(diags.min)),
      ("ortho_max_offdiag", r5(offMax)),
      ("proj_mean_max", r5(meanMax)),
      ("var_descending", if (descending) 1.0 else 0.0),
    ).toDF("invariant", "value").orderBy(col("invariant"))
  }

  /** Compression-quality trade table across the quantization
    * families: per family, bytes per vector and the mean / max
    * squared reconstruction error over the corpus — the sizing table
    * read NEXT TO the recall sweep (`ann_family_eval` measures what a
    * family retrieves; this measures what it remembers, which is what
    * bounds rerank quality and any downstream arithmetic on decoded
    * vectors). float32 anchors the table at zero error.
    *
    * Reconstructions follow each family's own serving convention:
    * SQ8 decodes x̂ᵢ = mn + (cᵢ+0.5)·s ([[sq8TopK]]'s decode), PQ
    * reconstructs each subvector as its assigned codebook centroid
    * (the error is the assignment's own min distance, so no code
    * lookup is needed), binary as α·sgn(x) with α the corpus mean
    * |component| — the optimal scalar for sign quantization — rounded
    * to 5 decimals before use (the whitening-stats contract).
    *
    * Determinism: every per-row error is an algebraic expansion over
    * exact array folds (dot products, ordered sums) whose expression
    * SHAPE the oracle mirrors term for term, rounded to 5 per row
    * before the avg/max aggregate; PQ's per-subspace min is an exact
    * double min and the 8 subspace minima fold in subspace order.
    *
    * Scale shape: ONE pass over the cached double-cast corpus
    * computes all three per-row errors (plus two 1-row stat
    * aggregates and the shared build-once PQ codebooks); output is 4
    * rows. No window, no join against anything corpus-sized.
    */
  def quantErrorReport(spark: SparkSession, dir: String, m: Int = 8,
                       kCents: Int = 16): DataFrame = {
    val (_, books) = ensurePqIndex(spark, dir, m, kCents)
    val ed = graft.sources.ScratchCache.materialize(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb")))
    val dim = ed.select(size(col("emb"))).head.getInt(0)
    val sub = dim / m
    val st = ed.agg(min(array_min(col("emb"))).as("mn"),
      max(array_max(col("emb"))).as("mx")).head
    val (mn, mx) = (st.getDouble(0), st.getDouble(1))
    val s = (mx - mn) / 256
    val alpha = {
      val r = ed.agg(
        sum(aggregate(col("emb"), lit(0.0), (a, x) => a + abs(x))).as("sa"),
        count(lit(1)).as("n")).head
      r5(r.getDouble(0) / (r.getLong(1) * dim))
    }
    val withCols = ed
      .withColumn("codes", transform(col("emb"), x =>
        if (mx > mn)
          least(floor((x - lit(mn)) / (lit(mx) - lit(mn)) * 256), lit(255.0))
        else lit(0.0)))
      .withColumn("sxx", dotd(col("emb"), col("emb")))
      .withColumn("sx", aggregate(col("emb"), lit(0.0), (a, x) => a + x))
      .withColumn("sabs", aggregate(col("emb"), lit(0.0), (a, x) => a + abs(x)))
      .withColumn("cC", aggregate(col("codes"), lit(0.0), (a, x) => a + x))
      .withColumn("p", dotd(col("emb"), col("codes")))
      .withColumn("cc2", dotd(col("codes"), col("codes")))
    val errSq8 = round(col("sxx")
      - lit(2.0) * (lit(mn) * col("sx") + lit(s) * (col("p") + lit(0.5) * col("sx")))
      + (lit(dim * mn * mn) + lit(2 * mn * s) * (col("cC") + lit(0.5 * dim))
        + lit(s * s) * (col("cc2") + col("cC") + lit(0.25 * dim))), 5)
    val errBin = round(col("sxx") - lit(2.0) * lit(alpha) * col("sabs")
      + lit(dim.toDouble) * lit(alpha) * lit(alpha), 5)
    val errPq = round((0 until m).map { si =>
      val slice = expr(s"slice(emb, ${si * sub + 1}, $sub)")
      val ss = dotd(slice, slice)
      array_min(array(books(si).map { c =>
        val cc = c.map(x => x * x).sum
        ss + lit(cc) - lit(2.0) * dotd(slice, typedlit(c))
      }: _*))
    }.reduce(_ + _), 5)
    val aggd = withCols
      .select(errSq8.as("e_sq8"), errPq.as("e_pq"), errBin.as("e_bin"))
      .agg(round(avg(col("e_sq8")), 5).as("sq8_avg"), max(col("e_sq8")).as("sq8_max"),
        round(avg(col("e_pq")), 5).as("pq_avg"), max(col("e_pq")).as("pq_max"),
        round(avg(col("e_bin")), 5).as("bin_avg"), max(col("e_bin")).as("bin_max"))
    aggd.selectExpr(
      s"""stack(4,
         |  'binary', ${dim / 8}L, bin_avg, bin_max,
         |  'float32', ${4 * dim}L, 0.0D, 0.0D,
         |  'pq', ${m}L, pq_avg, pq_max,
         |  'sq8', ${dim}L, sq8_avg, sq8_max
         |) AS (family, bytes_per_vec, mean_sq_err, max_sq_err)""".stripMargin)
      .orderBy(col("family"))
  }

  /** Binary (sign) quantization search — the FAISS IndexBinaryFlat
    * shape: each vector compresses to ONE 64-bit word (bit i set iff
    * component i > 0 — 256 B → 8 B, the most aggressive compression in
    * the family), candidates rank by Hamming distance to the query
    * signature (a single XOR + popcount per row — the cheapest
    * whole-corpus scan possible), and the `c`-row Hamming shortlist is
    * re-scored with exact cosine. Training-free like LSH (no fit), but
    * the signature TABLE persists build-once via [[IndexStore]] like
    * every index family: the 64-way sign projection costs one pass
    * over the float corpus, and recomputing it per probe made the
    * "cheapest whole-corpus scan possible" 9× slower than scanning
    * the persisted 8-bytes-per-vector table (measured at the
    * 1M-vector sf50 point: 9.4 s → sub-second probe). Both stages are
    * TakeOrdered (bounded heaps, no global sort); ties break on
    * vec_id at both cuts, so the whole operator replays bit-for-bit
    * in SQL — persistence changes where the bits live, not the bits.
    */
  def ensureBinaryIndex(spark: SparkSession, dir: String): DataFrame = {
    val path = IndexStore.indexPath(spark, "binsig_v1", s"$dir/embeddings.parquet", "d64")
    IndexStore.publish(spark, path) { tmp =>
      val sig = (0 until 64)
        .map(i => when(element_at(col("embedding"), i + 1) > 0f, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_.bitwiseOR(_))
      Tables.embeddings(spark, dir).select(col("vec_id"), sig.as("sig"))
        .write.mode("overwrite").parquet(s"$tmp/sigs")
    }
    IndexStore.open(spark, s"$path/sigs")
  }

  def binaryTopK(spark: SparkSession, dir: String, queryId: Long,
                 c: Int = 50, k: Int = 10): DataFrame =
    binaryTopKCore(spark, dir, memberVector(spark, dir, queryId), Some(queryId), c, k)

  /** [[binaryTopK]] for a CALLER-SUPPLIED query vector (non-member
    * serving): the same shortlist and rescore, no self-exclusion.
    */
  def binaryTopKVec(spark: SparkSession, dir: String, qv: Array[Float],
                    c: Int = 50, k: Int = 10): DataFrame =
    binaryTopKCore(spark, dir, qv, None, c, k)

  /** The 64-bit sign signature folds on the driver with the build rule
    * (bit i set iff component i > 0 — a member's equals its stored
    * `sig`) and ships as a plan literal; `exclude` drops the member at
    * the Hamming shortlist, and the shortlist is rescored against the
    * literal vector with exact cosine.
    */
  private def binaryTopKCore(spark: SparkSession, dir: String, qv: Array[Float],
                             exclude: Option[Long], c: Int, k: Int): DataFrame = {
    val sigs = ensureBinaryIndex(spark, dir)
    val qsig = qv.take(64).zipWithIndex.foldLeft(0L) { case (acc, (x, i)) =>
      if (x > 0f) acc | (1L << i) else acc
    }
    val short = TopK.first(sigs.where(exclude.map(col("vec_id") =!= _).getOrElse(lit(true)))
      .select(col("vec_id"),
        bit_count(col("sig").bitwiseXOR(lit(qsig))).cast("long").as("hamming")),
      c, col("hamming"), col("vec_id"))
    val qd = qv.map(_.toDouble)
    TopK.first(Tables.embeddings(spark, dir).join(broadcast(short), Seq("vec_id"))
      .select(col("vec_id"), col("hamming"),
        cosine5(col("embedding"), typedlit(qd), l2norm(col("embedding")), normParam(qd))
          .as("score")),
      k, TopK.byScore("vec_id"): _*)
  }
}
