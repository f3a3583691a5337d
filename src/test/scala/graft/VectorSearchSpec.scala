package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Ivf, Lsh, VectorSearch}

class VectorSearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("topK excludes the query vector and returns k descending scores") {
    val rows = VectorSearch.topK(spark, TestSpark.sf, queryId = 0, k = 10).collect()
    assert(rows.length == 10)
    assert(!rows.map(_.getLong(0)).contains(0L))
    val scores = rows.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("filteredTopK respects the label candidate set") {
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("label"))
    val res = VectorSearch.filteredTopK(spark, TestSpark.sf, 0, 10, Seq(1, 2, 3))
      .join(e, "vec_id")
    assert(res.where(!col("label").isin(1, 2, 3)).count() == 0)
  }

  test("topKOf over the embeddings frame equals topK row for row") {
    for (id <- Seq(0L, 7L, 37L)) {
      val viaFrame = VectorSearch.topKOf(Tables.embeddings(spark, TestSpark.sf), id, 10).collect()
      assert(viaFrame.length == 10)
      assert(viaFrame.toSeq == VectorSearch.topK(spark, TestSpark.sf, id, 10).collect().toSeq)
    }
  }

  test("every by-id entry point fails with memberNotFound for an absent id") {
    import graft.operators.{Quantized, TextRetrieval}
    val sf = TestSpark.sf
    val absent = Tables.embeddings(spark, sf).agg(max(col("vec_id"))).head.getLong(0) + 1000
    val source = s"$sf/embeddings.parquet"
    val expected = graft.functions.VectorFunctions.memberNotFound(source, absent).getMessage
    val labels = Tables.embeddings(spark, sf).select(col("label")).distinct()
      .collect().map(_.getAs[Number](0).intValue).toSeq.sorted
    // ReferenceInterop.annDemoReference (npyRow → memberVector) needs
    // the reference artifacts and is left out
    val calls: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "topK" -> (() => VectorSearch.topK(spark, sf, absent, 10)),
      "filteredTopK" -> (() => VectorSearch.filteredTopK(spark, sf, absent, 10, Seq(1, 3))),
      "topKOf" -> (() => VectorSearch.topKOf(Tables.embeddings(spark, sf), absent, 10, source)),
      "metaFilteredTopK" -> (() => VectorSearch.metaFilteredTopK(spark, sf, absent, 10, "en", 0L)),
      "tagFilteredTopK" -> (() => VectorSearch.tagFilteredTopK(spark, sf, absent, "len:1", 10)),
      "topKL2" -> (() => VectorSearch.topKL2(spark, sf, absent, 10)),
      "mmrRerank" -> (() => VectorSearch.mmrRerank(spark, sf, absent)),
      "rangeSearch" -> (() => VectorSearch.rangeSearch(spark, sf, absent, 0.25)),
      "embedWhitenTopK" -> (() => VectorSearch.embedWhitenTopK(spark, sf, absent)),
      "ivfTopK" -> (() => Ivf.ivfTopK(spark, sf, absent, 16, 4, 10)),
      "plannedFilteredTopK prefilter" ->
        (() => Ivf.plannedFilteredTopK(spark, sf, absent, labels.take(1))),
      "plannedFilteredTopK postfilter" ->
        (() => Ivf.plannedFilteredTopK(spark, sf, absent, labels)),
      "lshTopK" -> (() => Lsh.lshTopK(spark, sf, absent, nBits = 8, k = 10)),
      "sq8TopK" -> (() => Quantized.sq8TopK(spark, sf, absent, 10)),
      "pqTopK" -> (() => Quantized.pqTopK(spark, sf, absent, 10)),
      "ivfPqTopK" -> (() => Quantized.ivfPqTopK(spark, sf, absent, 16, 4, 10)),
      "ivfPqResidualTopK" -> (() => Quantized.ivfPqResidualTopK(spark, sf, absent, 16, 4, 10)),
      "ivfPqRerankTopK" -> (() => Quantized.ivfPqRerankTopK(spark, sf, absent, 16, 4, 50, 10)),
      "rerankDepthSweep" -> (() => Quantized.rerankDepthSweep(spark, sf, absent)),
      "rerankPlanner" -> (() => Quantized.rerankPlanner(spark, sf, absent)),
      "binaryTopK" -> (() => Quantized.binaryTopK(spark, sf, absent)),
      "hybridTopK" -> (() => TextRetrieval.hybridTopK(spark, sf, absent, 0.7, 10)))
    val wrong = calls.flatMap { case (name, call) =>
      scala.util.Try(call().collect()) match {
        case scala.util.Failure(e: IllegalArgumentException) if e.getMessage == expected => None
        case scala.util.Failure(e) => Some(s"$name threw $e")
        case scala.util.Success(rows) => Some(s"$name returned ${rows.length} rows")
      }
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("a member with a null embedding or a null element fails by name on both lookup paths") {
    val VF = graft.functions.VectorFunctions
    val dir = java.nio.file.Files.createTempDirectory("graft-null-member").toString
    val source = s"$dir/embeddings.parquet"
    spark.sql("""SELECT * FROM VALUES
        (0L, array(1.0f, 0.0f), 0), (1L, CAST(NULL AS array<float>), 0),
        (2L, array(1.0f, CAST(NULL AS float)), 0) AS t(vec_id, embedding, label)""")
      .coalesce(1).write.parquet(source)
    assert(graft.sources.PointRead.members(spark, source, Seq(1L, 2L)).isDefined,
      "the one-file fixture must take the driver read")
    for ((id, what) <- Seq(1L -> "a null embedding", 2L -> "a null element at position 1")) {
      val want = VF.memberInvalid(source, id, what).getMessage
      val calls: Seq[(String, () => Any)] = Seq(
        "driver read" -> (() => VF.memberVector(spark, dir, id)),
        "frame lookup" -> (() => VF.memberVector(Tables.embeddings(spark, dir), id, source)),
        "topK" -> (() => VectorSearch.topK(spark, dir, id, 2).collect()),
        "simMatrix" -> (() => VectorSearch.simMatrix(spark, dir, Seq(0L, id)).collect()))
      calls.foreach { case (name, call) =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage == want, s"$name on member $id")
      }
    }
    assert(VF.memberVector(spark, dir, 0L).toSeq == Seq(1.0f, 0.0f))
  }

  /** [[VectorSearch.metaFilteredTopK]]'s candidates as the join of the
    * embeddings with the passing documents, scored by the same scan. */
  private def metaJoinTopK(dir: String, id: Long, k: Int, lang: String,
                           minChars: Long): Seq[org.apache.spark.sql.Row] = {
    val docs = Tables.documents(spark, dir)
      .where(col("lang") === lang && col("n_chars") >= minChars).select(col("doc_id"))
    VectorSearch.topKVecOf(Tables.embeddings(spark, dir)
        .join(docs, col("vec_id") === col("doc_id")).where(col("vec_id") =!= id)
        .select(col("vec_id"), col("embedding")),
      graft.functions.VectorFunctions.memberVector(spark, dir, id), k).collect().toSeq
  }

  test("the driver documents filter equals the join form over random (id, lang, min_chars)") {
    val sf = TestSpark.sf
    val ids = Tables.embeddings(spark, sf).select(col("vec_id")).collect().map(_.getLong(0))
    val langs = Tables.documents(spark, sf).select(col("lang")).distinct().collect()
      .map(_.getString(0)).filter(_ != null).sorted :+ "xx"
    val rnd = new scala.util.Random(17)
    (0 until 24).foreach { _ =>
      val (id, lang) = (ids(rnd.nextInt(ids.length)), langs(rnd.nextInt(langs.length)))
      val minChars = Seq(0L, 50L, 100L, 200L, 300L, 100000L)(rnd.nextInt(6))
      assert(VectorSearch.metaFilteredTopK(spark, sf, id, 10, lang, minChars).collect().toSeq ==
        metaJoinTopK(sf, id, 10, lang, minChars), s"id $id lang $lang min_chars $minChars")
    }
  }

  test("the documents filter drops null lang and n_chars and fails by name on a duplicate id") {
    def fixture(docs: String): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-meta-filter").toString
      spark.sql(s"SELECT * FROM VALUES $docs AS t(doc_id, text, lang, source, n_chars)")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      spark.sql("""SELECT * FROM VALUES (0L, array(1.0f, 0.0f), 0), (1L, array(1.0f, 1.0f), 0),
          (2L, array(0.0f, 1.0f), 0), (3L, array(1.0f, 0.5f), 0), (4L, array(0.5f, 1.0f), 0)
          AS t(vec_id, embedding, label)""").coalesce(1).write.parquet(s"$dir/embeddings.parquet")
      dir
    }
    val clean = fixture("""(0L, 'a', 'en', 'g', 300L), (1L, 'b', CAST(NULL AS string), 'g', 300L),
        (2L, 'c', 'en', 'g', CAST(NULL AS bigint)), (3L, 'd', 'en', 'g', 250L),
        (4L, 'e', 'de', 'g', 400L), (4L, 'e', 'de', 'g', 400L)""")
    val got = VectorSearch.metaFilteredTopK(spark, clean, 0L, 10, "en", 200L).collect().toSeq
    assert(got.map(_.getLong(0)) == Seq(3L), got)
    assert(got == metaJoinTopK(clean, 0L, 10, "en", 200L))
    // doc 4 repeats, but only under a filter that does not pass it
    assert(VectorSearch.metaFilteredTopK(spark, clean, 0L, 10, "en", 0L).collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    val e = intercept[IllegalArgumentException](
      VectorSearch.metaFilteredTopK(spark, clean, 0L, 10, "de", 0L))
    assert(e.getMessage ==
      VectorSearch.duplicateDocument(s"$clean/documents.parquet", 4L).getMessage)
  }

  test("by-id searches get their query only from memberVector (no in-plan member lookup)") {
    import java.nio.file.{Files, Paths}
    // the member's stored CODE is sq8's query, not its float vector
    val exceptions = Set("sq8TopK")
    // the deleted in-plan scorer, spelled in two parts so that a grep
    // for it over src/ finds nothing
    val deleted = "scoredBy" + "Id"
    val lookup = """col\("vec_id"\) === (queryId|queryDoc|qIdx|rowId)\b""".r
    val defName = """\bdef (\w+)""".r
    val dir = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(dir), s"run from the repository root (no $dir)")
    val offenders = dir.toFile.listFiles().filter(_.getName.endsWith(".scala"))
      .sortBy(_.getName).toSeq.flatMap { f =>
        var enclosing = ""
        new String(Files.readAllBytes(f.toPath), "UTF-8").linesIterator.zipWithIndex.flatMap {
          case (line, i) =>
            val code = line.trim
            if (code.startsWith("*") || code.startsWith("//") || code.startsWith("/*")) None
            else {
              defName.findFirstMatchIn(code).foreach(m => enclosing = m.group(1))
              if (code.contains(deleted) ||
                  (lookup.findFirstIn(code).nonEmpty && !exceptions(enclosing)))
                Some(s"${f.getName}:${i + 1} (in $enclosing): $code")
              else None
            }
        }.toSeq
      }
    assert(offenders.isEmpty, s"${offenders.size} offending lines:\n${offenders.mkString("\n")}")
  }

  test("simMatrix has unit diagonal and is symmetric") {
    val m = VectorSearch.simMatrix(spark, TestSpark.sf, Seq(0L, 1L, 2L, 3L)).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(m.size == 16)
    Seq(0L, 1L, 2L, 3L).foreach(i => assert(math.abs(m((i, i)) - 1.0) < 1e-4))
    for (a <- 0L to 3L; b <- 0L to 3L) assert(m((a, b)) == m((b, a)))
  }

  test("a zero-norm vector scores 0.0 on the cosine paths instead of failing") {
    // ANSI mode turns nrm·qn = 0 into DIVIDE_BY_ZERO; the rank core
    // scores a zero denominator 0.0 (a zero vector's inner product)
    val dir = java.nio.file.Files.createTempDirectory("graft-zero-norm").toString
    val e = Tables.embeddings(spark, TestSpark.sf)
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val zeroId = e.agg(max(col("vec_id"))).head.getLong(0) + 1
    e.unionByName(e.where(col("vec_id") === 0)
        .withColumn("vec_id", lit(zeroId))
        .withColumn("embedding", array_repeat(lit(0.0f), dim)))
      .write.parquet(s"$dir/embeddings.parquet")
    val n = Tables.embeddings(spark, dir).count().toInt
    def zeroScore(rows: Array[org.apache.spark.sql.Row], id: Int, score: Int): Double =
      rows.find(_.getLong(id) == zeroId).map(_.getDouble(score))
        .getOrElse(fail(s"zero vector $zeroId missing"))

    val byId = VectorSearch.topK(spark, dir, queryId = 0, k = n - 1).collect()
    assert(byId.length == n - 1 && zeroScore(byId, 0, 1) == 0.0)
    val qv = e.where(col("vec_id") === 0).head.getAs[Seq[Float]]("embedding").toArray
    val byVec = VectorSearch.topKVec(spark, dir, qv, k = n).collect()
    assert(byVec.length == n && zeroScore(byVec, 0, 1) == 0.0)
    val knn = VectorSearch.knnJoin(spark, dir, queryMod = 1000, k = n - 1).collect()
    val perQ = knn.groupBy(_.getLong(0))
    assert(perQ.nonEmpty && perQ.values.forall(_.length == n - 1))
    perQ.values.foreach(rows => assert(zeroScore(rows, 1, 2) == 0.0))

    val k = 5
    val zeroQuery = VectorSearch.topKVec(spark, dir, Array.fill(dim)(0.0f), k).collect()
    assert(zeroQuery.map(_.getDouble(1)).toSeq == Seq.fill(k)(0.0))
    assert(zeroQuery.map(_.getLong(0)).toSeq ==
      Tables.embeddings(spark, dir).select(col("vec_id")).collect()
        .map(_.getLong(0)).sorted.take(k).toSeq)
  }

  test("vec_dot returns null for a null array element on the interpreted and codegen paths") {
    import graft.functions.VectorFunctions.dotd
    // non-foldable: the null-element row depends on id, so the kernel
    // runs per row instead of folding at plan time
    val df = spark.range(2).select(
      when(col("id") === 0, array(lit(1.0f), lit(null).cast("float"), lit(2.0f)))
        .otherwise(array(lit(1.0f), lit(2.0f), lit(3.0f))).as("a"),
      array(lit(1.0f), lit(1.0f), lit(1.0f)).as("b"))
    val hof = aggregate(zip_with(col("a"), col("b"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)
    def run(): Set[Seq[Any]] =
      df.select(dotd(col("a"), col("b")), dotd(col("b"), col("a")), hof)
        .collect().map(_.toSeq).toSet
    val codegen = run()
    val interpreted = try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      run()
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    Seq(codegen, interpreted).foreach { got =>
      assert(got == Set(Seq(null, null, null), Seq(6.0, 6.0, 6.0)), got)
    }
  }

  test("knnJoin returns exactly k neighbors per query") {
    val res = VectorSearch.knnJoin(spark, TestSpark.sf, queryMod = 100, k = 5)
    val perQ = res.groupBy("q_id").count().collect()
    assert(perQ.nonEmpty)
    assert(perQ.forall(_.getLong(1) == 5))
  }

  test("LSH multi-probe search is deterministic and candidates come from probed buckets") {
    val a = Lsh.lshTopK(spark, TestSpark.sf, queryId = 0, nBits = 8, k = 10).collect()
    val b = Lsh.lshTopK(spark, TestSpark.sf, queryId = 0, nBits = 8, k = 10).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.nonEmpty && !a.map(_.getLong(0)).contains(0L))
    // every candidate's bucket is within hamming 1 of the query's
    val qb = Lsh.assignBuckets(spark, TestSpark.sf, 8)
      .where(col("vec_id") === 0).head().getLong(1)
    assert(a.forall(r => java.lang.Long.bitCount(r.getLong(1) ^ qb) <= 1))
    // LSH scores can never beat the exact top-1
    val exactTop = VectorSearch.topK(spark, TestSpark.sf, 0, 1).head().getDouble(1)
    assert(a.forall(_.getDouble(2) <= exactTop))
  }

  test("IVF index round-trips through the cell-partitioned parquet layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val (assigned, centroids) = Ivf.buildIndex(spark, TestSpark.sf, nCells = 8)
    val q = assigned.where(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val before = Ivf.search(assigned, centroids, q, nprobe = 2, k = 10)
      .select("n_id", "rk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Ivf.saveIndex(assigned, centroids, dir)
    val (a2, c2) = Ivf.loadIndex(spark, dir)
    val after = Ivf.search(a2, c2, q, nprobe = 2, k = 10)
      .select("n_id", "rk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before == after)
    assert(before.size == 10)
  }

  test("LSH persisted index round-trips under a file:-scheme configurable root") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lsh-root").toAbsolutePath
    spark.conf.set("spark.graft.index.root", s"file:$tmp")
    try {
      val first = Lsh.lshTopK(spark, TestSpark.sf, queryId = 3, nBits = 8, k = 5)
        .collect().map(_.toSeq).toSeq
      // index artifact landed under the configured root
      val written = java.nio.file.Files.list(tmp).iterator()
      assert(written.hasNext, "index artifact must be written under spark.graft.index.root")
      // second call must serve from the same persisted artifact
      val second = Lsh.lshTopK(spark, TestSpark.sf, queryId = 3, nBits = 8, k = 5)
        .collect().map(_.toSeq).toSeq
      assert(first == second && first.nonEmpty)
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("index fingerprint changes when the source table is regenerated") {
    import graft.sources.IndexStore
    val tmp = java.nio.file.Files.createTempDirectory("graft-fp")
    val src = java.nio.file.Paths.get(TestSpark.sf, "embeddings.parquet")
    val dst = tmp.resolve("embeddings.parquet")
    java.nio.file.Files.copy(src, dst)
    val fp1 = IndexStore.fingerprint(spark, dst.toString)
    // regenerate: same path, new mtime
    java.nio.file.Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 123456))
    val fp2 = IndexStore.fingerprint(spark, dst.toString)
    assert(fp1 != fp2, "fingerprint must change on regeneration")
    // distinct paths can never collide on a sanitized-name basis
    assert(IndexStore.fingerprint(spark, src.toString) != fp2)
  }

  test("IVF append assigns new vectors to existing cells and search finds them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    val (assigned, centroids) = Ivf.buildIndex(spark, TestSpark.sf, nCells = 8)
    Ivf.saveIndex(assigned, centroids, dir)
    // append exact copies of vectors 0..4 under new ids — their nearest
    // neighbor at full probe must be their original (cosine 1.0)
    val newVecs = Tables.embeddings(spark, TestSpark.sf)
      .where(col("vec_id") < 5)
      .select((col("vec_id") + 10000L).as("vec_id"), col("label"), col("embedding"))
    // two-phase atomic append: MID-append (batch staged, not committed)
    // a reader sees NONE of the new vectors...
    val staging = Ivf.stageAppend(spark, dir, newVecs)
    assert(spark.read.parquet(s"$dir/cells").where(col("vec_id") >= 10000L).count() == 0,
      "staged batch must be invisible to readers")
    // ...and after the one-rename commit it sees ALL of them
    Ivf.commitAppend(spark, dir, staging)
    val (cells, cents) = Ivf.loadIndex(spark, dir)
    assert(cells.where(col("vec_id") >= 10000L).count() == 5)
    val q = Tables.embeddings(spark, TestSpark.sf).where(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val top = Ivf.search(cells, cents, q, nprobe = 8, k = 1).head()
    assert(top.getLong(1) == 10000L, s"expected the appended copy, got $top")
    assert(top.getDouble(3) == 1.0)
  }

  test("LSH append hashes new vectors into existing buckets and probes find them") {
    import graft.operators.Lsh
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-append").toString
    val dim = Lsh.embeddingDim(spark, TestSpark.sf)
    // build a fresh bucket index at a throwaway path (same layout as
    // ensureIndex, without the fingerprinted store)
    Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding"), graft.functions.VectorFunctions.l2norm(col("embedding")).as("nrm"))
      .join(Lsh.assignBuckets(spark, TestSpark.sf, nBits = 8), "vec_id")
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/epoch=base")
    // append exact copies of vectors 0..4 under new ids: identical
    // embeddings hash to identical buckets, so the copy must land in
    // its original's bucket and surface on a probe of that bucket
    val newVecs = Tables.embeddings(spark, TestSpark.sf)
      .where(col("vec_id") < 5)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    // two-phase atomic append: staged batch invisible, commit = all
    val staging = Lsh.stageAppend(spark, dir, newVecs, nBits = 8)
    assert(spark.read.parquet(dir).where(col("vec_id") >= 10000L).count() == 0,
      "staged batch must be invisible to readers")
    Lsh.commitAppend(spark, dir, staging)
    val idx = graft.sources.IndexStore.open(spark, dir).drop("epoch")
    assert(idx.where(col("vec_id") >= 10000L).count() == 5)
    val pairs = idx.where(col("vec_id") >= 10000L)
      .select((col("vec_id") - 10000L).as("vec_id"), col("bucket").cast("long").as("b2"))
      .join(idx.where(col("vec_id") < 5)
        .select(col("vec_id"), col("bucket").cast("long").as("b1")), "vec_id")
    assert(pairs.where(col("b1") =!= col("b2")).count() == 0,
      "copies must hash to their originals' buckets")
  }

  test("tombstone compaction: probes return identical rows with no anti-join, tombstones gone") {
    import graft.sources.IndexStore
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toAbsolutePath
    spark.conf.set("spark.graft.index.root", tmp.toString)
    try {
      val base = Lsh.lshTopK(spark, TestSpark.sf, queryId = 3, nBits = 8, k = 5).collect()
      assert(base.nonEmpty)
      // FAISS remove_ids(): delete the probe's top neighbor
      val victim = base.head.getLong(0)
      Lsh.removeFromIndex(spark, TestSpark.sf, nBits = 8, Seq(victim))
      val delDf = Lsh.lshTopK(spark, TestSpark.sf, queryId = 3, nBits = 8, k = 5)
      val afterDelete = delDf.collect()
      assert(!afterDelete.map(_.getLong(0)).contains(victim))
      // before compaction every probe pays the tombstone anti-join
      assert(delDf.queryExecution.executedPlan.toString.contains("LeftAnti"),
        "deletes must be subtracted via anti-join pre-compaction")
      Lsh.compactIndex(spark, TestSpark.sf, nBits = 8)
      val cmpDf = Lsh.lshTopK(spark, TestSpark.sf, queryId = 3, nBits = 8, k = 5)
      val afterCompact = cmpDf.collect()
      // identical rows, but the anti-join is gone and so is _tombstones
      assert(afterCompact.map(_.toSeq).toSeq == afterDelete.map(_.toSeq).toSeq)
      assert(!cmpDf.queryExecution.executedPlan.toString.contains("LeftAnti"),
        "compaction must remove the per-probe anti-join")
      val path = Lsh.indexPath(spark, TestSpark.sf, 8)
      assert(!IndexStore.exists(spark, s"$path/_tombstones"))
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("IVF rebalance: skewed appends trigger a refit, stats improve, exhaustive search identical") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rebalance").toAbsolutePath
    spark.conf.set("spark.graft.index.root", tmp.toString)
    try {
      val nCells = 8
      Ivf.ensureIndex(spark, TestSpark.sf, nCells)
      val path = Ivf.indexPath(spark, TestSpark.sf, nCells)
      def skewOf(): Double = Ivf.indexStats(spark, TestSpark.sf, nCells).collect()
        .find(_.getString(0) == "occupancy_skew_x").get.getDouble(1)
      // drift the distribution: 600 scaled copies of vector 0 (a ray of
      // norms 0.5–1.5×) — the FROZEN centroids funnel them into one or
      // two cells, exactly the skew shape incremental append creates
      val clones = Tables.embeddings(spark, TestSpark.sf).where(col("vec_id") === 0L)
        .crossJoin(spark.range(600).toDF("i"))
        .select((col("i") + 50000L).as("vec_id"), col("label"),
          expr("cast(transform(embedding, x -> x * (0.5 + (i % 100) / 100.0)) as array<float>)")
            .as("embedding"))
      Ivf.appendToIndex(spark, path, clones)
      val skewBefore = skewOf()
      assert(skewBefore >= 2.0, s"appends should have skewed a cell, skew=$skewBefore")
      // exhaustive probe (nprobe = nCells) is exact — invariant under
      // any re-celling, so it pins result identity across the rebalance
      val before = Ivf.ivfTopK(spark, TestSpark.sf, queryId = 3, nCells, nprobe = nCells, k = 5)
        .select("n_id", "score", "rk").collect().map(_.toSeq).toSeq
      // below threshold → no-op (returns false, artifact untouched)
      assert(!Ivf.rebalanceIndex(spark, TestSpark.sf, nCells, skewThreshold = 1e9))
      assert(Ivf.rebalanceIndex(spark, TestSpark.sf, nCells, skewThreshold = 2.0),
        "skew above threshold must trigger the rebalance")
      val skewAfter = skewOf()
      assert(skewAfter < skewBefore,
        s"refit must spread the hot cell: before=$skewBefore after=$skewAfter")
      val after = Ivf.ivfTopK(spark, TestSpark.sf, queryId = 3, nCells, nprobe = nCells, k = 5)
        .select("n_id", "score", "rk").collect().map(_.toSeq).toSeq
      assert(after == before, "exhaustive search must be unchanged by rebalancing")
      // the artifact folded to ONE epoch (append epochs gone)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val epochs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/cells"))
        .map(_.getPath.getName).filter(_.startsWith("epoch="))
      assert(epochs.length == 1 && epochs.head.startsWith("epoch=rebalance-"), epochs.mkString(","))
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("residual IVFPQ reconstructs finer than non-residual; ADC matches a driver oracle") {
    import graft.operators.{Ivf, Quantized}
    val (assigned, centroids) = Ivf.ensureIndex(spark, TestSpark.sf, 16)
    val cents = centroids.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1).map(_._2)
    val (codesNR, booksNR) = Quantized.ensurePqIndex(spark, TestSpark.sf, 8, 16)
    val (codesR, booksR) = Quantized.ensureIvfPqResIndex(spark, TestSpark.sf, 16, 8, 16)
    val embs = Tables.embeddings(spark, TestSpark.sf).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val nrCodes = codesNR.collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    val rRows = codesR.select("vec_id", "codes", "cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toArray, r.getInt(2)))
    val m = 8
    val sub = embs(0L).length / m
    def recon(books: Array[Array[Array[Double]]], codes: Array[Int]): Array[Double] =
      (0 until m).flatMap(s => books(s)(codes(s))).toArray
    // 1) the by_residual claim that IS guaranteed: x̂ = c + r̂ lands
    //    closer to x than the raw-codebook x̂ at the same m (measured
    //    ~11% lower mean squared reconstruction error on this corpus).
    //    NOTE the claim that is NOT asserted: better recon does not
    //    automatically buy better ADC recall — at this corpus/m the
    //    quantization noise is comparable to the neighbor-distance
    //    spread, and the familyEval table reports the measured recall
    //    of both variants so the trade is visible, not assumed.
    var eNR = 0.0; var eR = 0.0
    rRows.foreach { case (id, rc, cell) =>
      val x = embs(id).map(_.toDouble)
      val xhatNR = recon(booksNR, nrCodes(id))
      val rhat = recon(booksR, rc)
      val xhatR = Array.tabulate(x.length)(i => cents(cell)(i) + rhat(i))
      eNR += x.zip(xhatNR).map { case (a, b) => (a - b) * (a - b) }.sum
      eR += x.zip(xhatR).map { case (a, b) => (a - b) * (a - b) }.sum
    }
    assert(eR < eNR, s"residual recon error $eR must beat non-residual $eNR")
    // 2) operator fidelity: full-probe residual ADC equals the same
    //    formula computed driver-side — per-cell LUTs select correctly
    val q = embs(0L).map(_.toDouble)
    val driverTop = rRows.filter(_._1 != 0L).map { case (id, rc, cell) =>
      val qr = Array.tabulate(q.length)(i => q(i) - cents(cell)(i))
      val d = (0 until m).map { s =>
        val b = booksR(s)(rc(s))
        (0 until sub).map(i => { val t = qr(s * sub + i) - b(i); t * t }).sum
      }.sum
      (id, d)
    }.sortBy { case (id, d) => (d, id) }.take(10)
    val opTop = Quantized.ivfPqResidualTopK(spark, TestSpark.sf, 0L, 16, 16, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(opTop.map(_._1).toSeq == driverTop.map(_._1).toSeq,
      s"op ${opTop.mkString(",")} vs driver ${driverTop.mkString(",")}")
    opTop.zip(driverTop).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-3, s"ADC drift: $a vs $b")
    }
  }

  test("PQ/ADC search is deterministic, codes are bounded, recall is useful") {
    import graft.operators.Quantized
    val a = Quantized.pqTopK(spark, TestSpark.sf, queryId = 0, k = 10).collect()
    val b = Quantized.pqTopK(spark, TestSpark.sf, queryId = 0, k = 10).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.length == 10 && !a.map(_.getLong(0)).contains(0L))
    // ADC distances ascend
    val d = a.map(_.getDouble(1))
    assert(d.zip(d.tail).forall { case (x, y) => x <= y })
    // codes live in [0, kCents)
    val books = Quantized.pqFit(spark, TestSpark.sf, m = 8, kCents = 16)
    val codes = Quantized.pqEncode(spark, TestSpark.sf, books)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.col("codes")).as("c"))
      .agg(org.apache.spark.sql.functions.min("c"),
        org.apache.spark.sql.functions.max("c")).head()
    assert(codes.getInt(0) >= 0 && codes.getInt(1) < 16)
    // lossy but useful: the 16-byte codes keep >=4 of the exact top-10
    val exact = VectorSearch.topK(spark, TestSpark.sf, 0, 10).collect()
      .map(_.getLong(0)).toSet
    val got = a.map(_.getLong(0)).toSet
    assert((exact & got).size >= 4, s"PQ recall too low: ${(exact & got).size}/10")
  }

  test("IVFPQ full probe ranks exactly like flat PQ/ADC; pruned probe stays in probed cells") {
    import graft.operators.Quantized
    // non-residual contract: with every cell probed the candidate set
    // is the whole corpus, so the ADC ranking must equal pqTopK's
    val full = Quantized.ivfPqTopK(spark, TestSpark.sf, queryId = 0,
        nCells = 16, nprobe = 16, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val flat = Quantized.pqTopK(spark, TestSpark.sf, queryId = 0, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == flat, s"full=$full flat=$flat")
    // pruned probe: deterministic, self-excluded, distances ascend
    val pruned = Quantized.ivfPqTopK(spark, TestSpark.sf, queryId = 0,
      nCells = 16, nprobe = 4, k = 10).collect()
    assert(pruned.nonEmpty && !pruned.map(_.getLong(0)).contains(0L))
    val d = pruned.map(_.getDouble(2))
    assert(d.zip(d.tail).forall { case (x, y) => x <= y })
    // pruned results are a subset of the full-probe candidate space:
    // every returned distance exists in the full ranking's universe
    val fullAll = Quantized.ivfPqTopK(spark, TestSpark.sf, queryId = 0,
      nCells = 16, nprobe = 16, k = 2000).collect().map(_.getLong(0)).toSet
    assert(pruned.map(_.getLong(0)).forall(fullAll.contains))
  }

  test("IVFPQ rerank at full probe and full shortlist equals exact flat search") {
    import graft.operators.Quantized
    val n = Tables.embeddings(spark, TestSpark.sf).count().toInt
    val reranked = Quantized.ivfPqRerankTopK(spark, TestSpark.sf, queryId = 0,
      nCells = 16, nprobe = 16, c = n, k = 10).collect().map(_.toSeq).toSeq
    val exact = VectorSearch.topK(spark, TestSpark.sf, 0, 10).collect().map(_.toSeq).toSeq
    assert(reranked == exact,
      "exact rescoring of the full shortlist must reproduce flat search")
    // and a realistic shortlist still returns k exact-scored rows
    val small = Quantized.ivfPqRerankTopK(spark, TestSpark.sf, queryId = 0,
      nCells = 16, nprobe = 4, c = 50, k = 10).collect()
    assert(small.length == 10 && !small.map(_.getLong(0)).contains(0L))
  }

  test("tombstoned ids vanish from probes without rewriting the index") {
    import graft.operators.Lsh
    import graft.sources.IndexStore
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft-tomb").toString
    val prev = spark.conf.get("spark.graft.index.root", "target/graft-index")
    spark.conf.set("spark.graft.index.root", tmpRoot)
    try {
      val before = Lsh.lshTopK(spark, TestSpark.sf, queryId = 0, nBits = 8, k = 5)
        .collect().map(_.getLong(0)).toSeq
      val path = Lsh.indexPath(spark, TestSpark.sf, 8)
      val files = new java.io.File(path).listFiles.map(_.getName).filter(_.startsWith("bucket=")).toSet
      Lsh.removeFromIndex(spark, TestSpark.sf, nBits = 8, ids = before.take(2))
      val after = Lsh.lshTopK(spark, TestSpark.sf, queryId = 0, nBits = 8, k = 5)
        .collect().map(_.getLong(0)).toSeq
      assert(before.take(2).forall(id => !after.contains(id)), s"before=$before after=$after")
      // survivors keep their exact-cosine order; ranks 4-5 refill from
      // deeper candidates in the probed buckets
      assert(after.take(3) == before.drop(2), s"before=$before after=$after")
      // the bucket files were NOT rewritten — deletion is a tombstone
      val filesAfter = new java.io.File(path).listFiles.map(_.getName).filter(_.startsWith("bucket=")).toSet
      assert(filesAfter == files, "no partition rewrite on delete")
      assert(new java.io.File(s"$path/_tombstones").exists)
    } finally spark.conf.set("spark.graft.index.root", prev)
  }

  test("family eval anchors flat at 1.0/1.0 and bounds every family's metrics") {
    val byF = Ivf.familyEval(spark, TestSpark.sf, queryMod = 100, k = 10).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(byF.keySet == Set("flat", "ivf_nprobe4", "lsh_multiprobe", "sq8", "pq_adc",
      "ivfpq_nprobe4", "ivfpq_rerank_c50", "ivfpq_res_nprobe4", "binary_c50"))
    assert(byF("flat") == ((1.0, 1.0)), "exact search must match its own ground truth")
    byF.values.foreach { case (p, mrr) =>
      assert(p >= 0.0 && p <= 1.0 && mrr >= 0.0 && mrr <= 1.0)
    }
    // approximate families still need to be USEFUL on this corpus
    assert(byF("sq8")._1 >= 0.5, s"sq8 precision ${byF("sq8")._1}")
    // rerank's whole point: exact rescoring of the ADC shortlist must
    // recover precision over raw IVFPQ at the same probe
    assert(byF("ivfpq_rerank_c50")._1 >= byF("ivfpq_nprobe4")._1,
      s"rerank ${byF("ivfpq_rerank_c50")} vs ivfpq ${byF("ivfpq_nprobe4")}")
  }

  test("non-member family eval: held-out builds, flat anchors 1.0/1.0, vec entry points deterministic") {
    val rows = Ivf.familyEval(spark, TestSpark.sf, queryMod = 100, k = 10,
      memberQueries = false).collect()
    val byF = rows.map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(byF.keySet == Set("flat", "ivf_nprobe4", "lsh_multiprobe", "sq8", "pq_adc",
      "ivfpq_nprobe4", "ivfpq_rerank_c50", "ivfpq_res_nprobe4", "binary_c50"))
    // ground truth IS the exact flat scan of each held-out vector
    // against the carve-out, so flat must anchor at 1.0/1.0
    assert(byF("flat") == ((1.0, 1.0)), s"flat anchor: ${byF("flat")}")
    byF.values.foreach { case (p, mrr) =>
      assert(p >= 0.0 && p <= 1.0 && mrr >= 0.0 && mrr <= 1.0)
    }
  }

  test("caller-vector entry points: every family finds a planted corpus vector without self machinery") {
    // feed each family's Vec variant an EXISTING corpus vector: with
    // no self-exclusion the planted row must come back — rank 1 with
    // score 1.0 for the exact-rescoring families, top-k membership for
    // the quantized rankings (their scores quantize but the planted
    // row's quantization error is 0-ish). Determinism: two runs agree.
    import graft.operators.Quantized
    val planted = 7L
    val corpus = Tables.embeddings(spark, TestSpark.sf).select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet
    val qv = Tables.embeddings(spark, TestSpark.sf)
      .where(col("vec_id") === planted)
      .select(col("embedding")).head.getSeq[Float](0).toArray
    def idsOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq
    def runs(k: Int): Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("flat", () => VectorSearch.topKVec(spark, TestSpark.sf, qv, k)),
      ("ivf", () => Ivf.ivfTopKVec(spark, TestSpark.sf, qv, 16, 4, k)),
      ("lsh", () => graft.operators.Lsh.lshTopKVec(spark, TestSpark.sf, qv, 8, k)),
      ("sq8", () => Quantized.sq8TopKVec(spark, TestSpark.sf, qv, k)),
      ("pq", () => Quantized.pqTopKVec(spark, TestSpark.sf, qv, k)),
      ("ivfpq", () => Quantized.ivfPqTopKVec(spark, TestSpark.sf, qv, 16, 4, k)),
      ("ivfpq_rerank", () => Quantized.ivfPqRerankTopKVec(spark, TestSpark.sf, qv, 16, 4, 50, k)),
      ("ivfpq_res", () => Quantized.ivfPqResidualTopKVec(spark, TestSpark.sf, qv, 16, 4, k)),
      ("binary", () => Quantized.binaryTopKVec(spark, TestSpark.sf, qv, k = k)))
    runs(10).foreach { case (name, run) =>
      val a = run().collect()
      assert(a.nonEmpty, s"$name returned nothing")
      assert(a.map(_.toSeq).toSeq == run().collect().map(_.toSeq).toSeq,
        s"$name not deterministic")
      assert(idsOf(run()).contains(planted),
        s"$name missed the planted vector: ${idsOf(run())}")
    }
    // exact-rescoring families: the planted row is rank 1, score 1.0
    Seq("flat", "ivf", "lsh", "ivfpq_rerank", "binary").foreach { name =>
      val top = runs(10).toMap.apply(name)().collect().head
      val (id, score) = name match {
        // (vec_id, bucket|hamming|cell, score) shapes
        case "lsh" | "binary" | "ivf" => (top.getLong(0), top.getDouble(2))
        case _ => (top.getLong(0), top.getDouble(1))
      }
      assert(id == planted && score == 1.0, s"$name top hit: $top")
    }
    // k >= n: every family returns at most k distinct corpus ids and
    // neither throws nor pads; a rank column stays dense 1..rows. The
    // exhaustive families (flat, sq8, pq) return the whole corpus.
    val bigK = corpus.size + 5
    runs(bigK).foreach { case (name, run) =>
      val df = run()
      val rows = df.collect()
      val ids = rows.map(_.getLong(0)).toSeq
      assert(ids.distinct.length == ids.length, s"$name k>=n: duplicate ids")
      assert(ids.forall(corpus), s"$name k>=n: ids outside the corpus")
      assert(rows.length <= bigK, s"$name k>=n: ${rows.length} rows > k")
      if (df.columns.contains("rk"))
        assert(rows.map(_.getAs[Long]("rk")).sorted.toSeq == (1L to rows.length.toLong),
          s"$name k>=n: ranks not dense")
      if (Set("flat", "sq8", "pq")(name))
        assert(rows.length == corpus.size, s"$name k>=n: ${rows.length} of ${corpus.size} rows")
    }
  }

  test("IVF search recall grows with nprobe and hits exact at full probe") {
    val ev = Ivf.recallEval(spark, TestSpark.sf, nCells = 8, queryMod = 100,
      k = 10, nprobes = Seq(1, 8)).collect()
    val byNp = ev.map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(byNp(8) == 1.0, "probing all cells must equal exact search")
    assert(byNp(1) <= byNp(8))
  }

  test("index stats report a consistent inventory of the persisted IVF artifact") {
    val stats = graft.operators.Ivf.indexStats(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val corpus = Tables.embeddings(spark, TestSpark.sf).count().toDouble
    assert(stats("n_rows") == corpus)
    assert(stats("n_cells") > 0 && stats("n_cells") <= 16)
    assert(stats("n_epochs") >= 1.0, "at least the base epoch")
    assert(stats("n_tombstones") == 0.0)
    assert(stats("min_cell_rows") <= stats("avg_cell_rows") &&
      stats("avg_cell_rows") <= stats("max_cell_rows"))
    assert(stats("occupancy_skew_x") >= 1.0)
    assert(stats("avg_cell_rows") == stats("n_rows") / stats("n_cells"))
  }

  test("session recommendation excludes seen items and matches a driver recount") {
    import org.apache.spark.sql.functions.{col, get_json_object}
    val got = VectorSearch.recommendForUser(spark, TestSpark.sf, userId = 7L, k = 10).collect()
    assert(got.length == 10)
    val seen = Tables.events(spark, TestSpark.sf)
      .where(col("user_id") === 7L && col("event_type").isin("view", "click"))
      .select(get_json_object(col("props"), "$.k").cast("long")).collect()
      .map(_.getLong(0)).toSet
    assert(seen.nonEmpty)
    assert(got.forall(r => !seen.contains(r.getLong(0))), "seen items must not be recommended")
    val scores = got.map(_.getDouble(1))
    assert(scores.toSeq == scores.sortBy(-_).toSeq)
    // driver recount: mean profile over seen embeddings → top cosine
    val vecs = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val seenVecs = seen.toSeq.sorted.flatMap(vecs.get)
    val prof = Array.tabulate(64)(i => seenVecs.map(_(i).toDouble).sum / seenVecs.length)
    def r5(x: Double): Double =
      BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pn = math.sqrt(prof.map(x => x * x).sum)
    val expect = vecs.toSeq.filterNot { case (id, _) => seen.contains(id) }
      .map { case (id, v) =>
        var d = 0.0; var nv = 0.0
        for (i <- 0 until 64) { d += v(i).toDouble * prof(i); nv += v(i).toDouble * v(i) }
        (id, r5(d / (math.sqrt(nv) * pn)))
      }.sortBy { case (id, s) => (-s, id) }.take(10)
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq == expect)
  }

  test("hard negatives are the true cross-label top-k per anchor") {
    val k = 5
    val got = VectorSearch.hardNegatives(spark, TestSpark.sf, queryMod = 100, k = k).collect()
    val vecs = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    def r5(x: Double): Double =
      BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    val anchors = vecs.filter(_._1 % 100 == 0)
    assert(got.length == anchors.length * k)
    anchors.foreach { case (qid, qlabel, qv) =>
      val expect = vecs.filter(_._2 != qlabel)
        .map { case (id, _, v) => (id, r5(cos(v, qv))) }
        .sortBy { case (id, s) => (-s, id) }.take(k).toSeq
      val mine = got.filter(_.getLong(0) == qid).sortBy(_.getLong(5))
        .map(r => (r.getLong(2), r.getDouble(4))).toSeq
      assert(mine == expect, s"anchor $qid")
      // and not a single same-label row survived the fused predicate
      assert(got.filter(_.getLong(0) == qid).forall(_.getLong(3) != qlabel.toLong))
    }
  }

  test("pca components are orthonormal; projected output is centered with sorted variance") {
    val outDim = 8
    val (comps, _) = graft.operators.Quantized.pcaModel(spark, TestSpark.sf, outDim)
    assert(comps.length == outDim)
    for (i <- comps.indices; j <- i until comps.length) {
      val d = comps(i).zip(comps(j)).map { case (a, b) => a.toDouble * b }.sum
      if (i == j) assert(math.abs(d - 1.0) < 1e-4, s"comp $i not unit: $d")
      else assert(math.abs(d) < 1e-4, s"comps $i,$j not orthogonal: $d")
    }
    val rows = graft.operators.Quantized.pcaProject(spark, TestSpark.sf, outDim).collect()
    val n = rows.length.toDouble
    assert(n > 0)
    val vars = (0 until outDim).map { j =>
      val xs = rows.map(_.getDouble(j + 1))
      val m = xs.sum / n
      assert(math.abs(m) < 1e-3, s"component $j not centered: mean $m")
      xs.map(x => (x - m) * (x - m)).sum / n
    }
    // eigen order: retained variance is non-increasing across components
    assert(vars.sliding(2).forall(p => p(0) >= p(1) - 1e-6), vars.toString)
  }

  test("mmr with lambda=1 reduces exactly to topK order") {
    val mmr = VectorSearch.mmrRerank(spark, TestSpark.sf, queryId = 0, k = 10,
      fetchK = 30, lambda = 1.0).collect()
    val top = VectorSearch.topK(spark, TestSpark.sf, queryId = 0, k = 10).collect()
    assert(mmr.map(_.getLong(1)).toSeq == top.map(_.getLong(0)).toSeq)
    // and mmr_score degenerates to the relevance itself
    mmr.foreach(r => assert(math.abs(r.getDouble(3) - r.getDouble(2)) < 1e-9))
  }

  test("mmr greedy invariant: every pick maximizes the marginal score") {
    val lambda = 0.7
    val fetchK = 30
    val out = VectorSearch.mmrRerank(spark, TestSpark.sf, queryId = 0, k = 10,
      fetchK = fetchK, lambda = lambda).collect()
    assert(out.length == 10)
    assert(out.map(_.getLong(1)).distinct.length == 10, "no duplicate picks")
    // recompute the candidate set independently and replay the greedy
    val e = Tables.embeddings(spark, TestSpark.sf)
    val q = e.where(col("vec_id") === 0L).collect().head
      .getSeq[Float](e.columns.indexOf("embedding")).toArray
    def nrm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    def cosRaw(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum / (nrm(a) * nrm(b))
    val cands = e.where(col("vec_id") =!= 0L).collect()
      .map { r =>
        val v = r.getSeq[Float](e.columns.indexOf("embedding")).toArray
        (r.getLong(e.columns.indexOf("vec_id")),
          math.rint(cosRaw(v, q) * 1e5) / 1e5, v)
      }
      .sortBy { case (id, rel, _) => (-rel, id) }
      .take(fetchK)
    // first pick is the relevance argmax
    assert(out.head.getLong(1) == cands.head._1)
    val byId = cands.map(c => c._1 -> c).toMap
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Array[Float])]
    out.foreach { r =>
      val id = r.getLong(1)
      val c = byId(id)
      val myScore = lambda * c._2 - (1 - lambda) *
        (if (picked.isEmpty) 0.0 else picked.map(p => cosRaw(c._3, p._3)).max)
      // no unpicked candidate strictly beats the recorded pick
      cands.filterNot(x => picked.exists(_._1 == x._1) || x._1 == id).foreach { o =>
        val oScore = lambda * o._2 - (1 - lambda) *
          (if (picked.isEmpty) 0.0 else picked.map(p => cosRaw(o._3, p._3)).max)
        assert(oScore <= myScore + 1e-9,
          s"candidate ${o._1} ($oScore) beats pick $id ($myScore)")
      }
      picked += c
    }
  }

  test("mmr with low lambda diversifies away from the pure top-k panel") {
    val pure = VectorSearch.topK(spark, TestSpark.sf, queryId = 0, k = 10)
      .collect().map(_.getLong(0)).toSeq
    val div = VectorSearch.mmrRerank(spark, TestSpark.sf, queryId = 0, k = 10,
      fetchK = 30, lambda = 0.2).collect().map(_.getLong(1)).toSeq
    // with strong diversity pressure the panel cannot keep the pure
    // relevance ORDER — a redundant near-duplicate gets pushed down
    assert(div != pure, "lambda=0.2 panel should reorder vs pure relevance")
  }

  test("knn classify votes are consistent with knn label precision over the same top-k") {
    val k = 10
    val prec = VectorSearch.knnLabelPrecision(spark, TestSpark.sf, queryMod = 100, k = k)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val cls = VectorSearch.knnClassify(spark, TestSpark.sf, queryMod = 100, k = k).collect()
    assert(cls.nonEmpty)
    assert(cls.map(_.getLong(0)).toSet == prec.keySet, "same sampled query batch")
    cls.foreach { r =>
      val (qId, qLabel, pred, votes, correct) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
      val (precLabel, nMatch) = prec(qId)
      assert(qLabel == precLabel)
      assert(votes >= 1 && votes <= k)
      assert(correct == (pred == qLabel))
      // n_match counts the query-label votes within the SAME top-k:
      // the winning label's votes can never be fewer, and equal counts
      // break toward the smaller label id
      assert(votes >= nMatch, s"q $qId: winner votes $votes < q-label votes $nMatch")
      if (correct) assert(votes == nMatch)
      if (nMatch > k / 2) assert(correct, s"q $qId: majority label must win")
    }
  }

  test("embedding norm stats match a driver-side recount") {
    def r = (x: Double, s: Int) =>
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = Tables.embeddings(spark, TestSpark.sf).select("label", "embedding").collect()
      .map(x => (x.getInt(0).toLong, {
        val e = x.getSeq[Float](1)
        r(math.sqrt(e.map(v => v.toDouble * v.toDouble).sum), 5)
      }))
    val got = VectorSearch.embedNormStats(spark, TestSpark.sf).collect()
    assert(got.map(_.getLong(0)).toSeq == vecs.map(_._1).distinct.sorted.toSeq)
    got.foreach { row =>
      val ns = vecs.filter(_._1 == row.getLong(0)).map(_._2)
      assert(row.getLong(1) == ns.length)
      assert(row.getDouble(2) == r(ns.sum / ns.length, 4), "mean of rounded norms")
      assert(row.getDouble(4) == ns.min && row.getDouble(5) == ns.max)
      assert(row.getDouble(3) >= 0.0)
      assert(row.getDouble(4) <= row.getDouble(2) && row.getDouble(2) <= row.getDouble(5))
    }
  }

  test("binary sign search replays from driver-side signatures and exact rerank") {
    val vecs = Tables.embeddings(spark, TestSpark.sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def sig(v: Array[Float]): Long =
      (0 until 64).foldLeft(0L)((acc, i) => if (v(i) > 0f) acc | (1L << i) else acc)
    val qv = vecs(0L); val qsig = sig(qv)
    val short = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, java.lang.Long.bitCount(sig(v) ^ qsig).toLong) }
      .sortBy { case (id, h) => (h, id) }.take(50)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map(p => p._1.toDouble * p._2.toDouble).sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      BigDecimal(d / (na * nb)).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = short.map { case (id, h) => (id, h, cos(vecs(id), qv)) }
      .sortBy { case (id, _, s) => (-s, id) }.take(10)
    val got = graft.operators.Quantized.binaryTopK(spark, TestSpark.sf, queryId = 0, c = 50, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want)
  }

  test("isotropy closed form agrees with the direct pairwise mean") {
    val vecs = Tables.embeddings(spark, TestSpark.sf).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val n = vecs.length
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map(p => p._1 * p._2).sum
    // direct O(n^2) mean over ordered pairs — feasible at this SF
    val direct = (for (i <- vecs.indices; j <- vecs.indices if i != j)
      yield dot(vecs(i), vecs(j))).sum / (n.toLong * (n - 1))
    val row = VectorSearch.embedIsotropy(spark, TestSpark.sf).collect().head
    assert(row.getLong(0) == n)
    assert(math.abs(row.getDouble(2) - direct) < 1e-3,
      s"closed form ${row.getDouble(2)} vs direct $direct")
    // unit-norm corpus: mean norm 1, anisotropy ~ mean pairwise dot
    assert(math.abs(row.getDouble(1) - 1.0) < 0.01)
    assert(math.abs(row.getDouble(3) - row.getDouble(2) /
      (row.getDouble(1) * row.getDouble(1))) < 1e-4)
  }

  test("analogy with a = b degenerates to plain similarity from c") {
    def cos5(a: Array[Float], qv: Array[Double]): Double = {
      val d = a.zip(qv).map(p => p._1.toDouble * p._2).sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nq = math.sqrt(qv.map(x => x * x).sum)
      BigDecimal(d / (na * nq)).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val vecs = Tables.embeddings(spark, TestSpark.sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qv = vecs(7L).map(_.toDouble) // v(5) - v(5) + v(7)
    val want = vecs.toSeq.filterNot(t => Set(5L, 7L).contains(t._1))
      .map { case (id, v) => (id, cos5(v, qv)) }
      .sortBy { case (id, s) => (-s, id) }.take(10)
    val got = VectorSearch.analogyTopK(spark, TestSpark.sf, a = 5, b = 5, c = 7)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("cluster quality: margins are non-negative and cells partition the corpus") {
    val rows = Ivf.clusterQuality(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._2).sum == Tables.embeddings(spark, TestSpark.sf).count())
    rows.foreach { case (cell, n, own, margin) =>
      assert(n > 0 || own == 0.0)
      assert(own >= 0.0, s"cell $cell compactness")
      // argmin assignment: no member is closer to a foreign centroid
      assert(margin >= -1e-4, s"cell $cell margin $margin")
    }
  }

  test("knn confusion matrix partitions the classifier's query sample") {
    val cls = VectorSearch.knnClassify(spark, TestSpark.sf, queryMod = 20, k = 10,
        maxQueries = 64)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val want = cls.groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val got = VectorSearch.knnConfusion(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
    assert(got.values.sum == cls.length)
    // diagonal mass = classifier accuracy count
    val diag = got.collect { case ((a, b), n) if a == b => n }.sum
    assert(diag == cls.count(t => t._1 == t._2))
  }

  test("knn regression eval reports coherent error metrics") {
    val row = VectorSearch.knnRegressEval(spark, TestSpark.sf).collect().head
    val nQ = math.min(Tables.embeddings(spark, TestSpark.sf)
      .where(col("vec_id") % 20 === 0).count(), 64L)
    assert(row.getLong(0) == nQ)
    val (rmse, mae, mean) = (row.getDouble(1), row.getDouble(2), row.getDouble(3))
    assert(rmse >= mae - 1e-9, "RMSE dominates MAE by Jensen")
    assert(mae >= 0.0 && rmse >= 0.0)
    // the mean-length predictor is only useful if its error is small
    // relative to the target scale — sanity, not a quality gate
    assert(mean > 0.0 && rmse < 10 * mean)
  }

  test("range search returns exactly the neighbors inside the radius, ordered") {
    def cos5(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map(p => p._1.toDouble * p._2.toDouble).sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      BigDecimal(d / (na * nb)).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val vecs = Tables.embeddings(spark, TestSpark.sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val tau = 0.25
    val want = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos5(v, vecs(0L))) }
      .filter(_._2 >= tau)
      .sortBy { case (id, s) => (-s, id) }
    val got = VectorSearch.rangeSearch(spark, TestSpark.sf, queryId = 0, minScore = tau)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("knn ndcg matches a driver recount and sits in [0,1]") {
    def cos5(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map(p => p._1.toDouble * p._2.toDouble).sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      BigDecimal(d / (na * nb)).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val rows = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val byId = rows.map(r => r._1 -> r).toMap
    val labN = rows.groupBy(_._3).map { case (l, rs) => l -> rs.length }
    def log2(x: Double) = math.log(x) / math.log(2.0)
    val got = VectorSearch.knnNdcg(spark, TestSpark.sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (qid, qlab) = (r.getLong(0), r.getLong(1))
      val top = rows.filter(_._1 != qid)
        .map(t => (t._1, cos5(t._2, byId(qid)._2), t._3))
        .sortBy { case (id, s, _) => (-s, id) }.take(10)
      val dcg = top.zipWithIndex.collect {
        case ((_, _, l), i) if l == qlab => 1.0 / log2(i + 2.0) }.sum
      val rr = math.min(labN(qlab.toInt) - 1, 10)
      val idcg = (1 to rr).map(i => 1.0 / log2(i + 1.0)).sum
      val want = if (idcg > 0) dcg / idcg else 0.0
      assert(math.abs(r.getDouble(4) - want) < 2e-5, s"q $qid: ${r.getDouble(4)} vs $want")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getLong(2) == top.count(_._3 == qlab.toInt))
    }
  }

  test("graph append: new vectors get lists, backlinks make them reachable") {
    import graft.operators.GraphAnn
    // a scratch index root: the appended epochs must never leak into
    // the shared fingerprint-addressed artifact the oracle-checked
    // queries read (the oracle rebuilds from the raw corpus only)
    val tmpRoot = java.nio.file.Files
      .createTempDirectory("graft-append-spec").toString
    spark.conf.set("spark.graft.index.root", tmpRoot)
    try {
      // append exact twins of two corpus vectors under fresh ids: the
      // twin of vector 0 is the best possible answer (cos = 1) for
      // query 0 — it can only be found if the backlinks actually wire
      // the new node into the walkable graph (old lists are never
      // re-trimmed, so no forward edge of an old node points at it)
      val twins = Tables.embeddings(spark, TestSpark.sf)
        .where(col("vec_id").isin(0L, 4L))
        .select((col("vec_id") + 9000L).as("vec_id"), col("label"), col("embedding"))
      GraphAnn.appendToGraph(spark, TestSpark.sf, 8, twins)
      // searchable set contains the appended ids exactly once
      val ids = GraphAnn.vectors(spark, TestSpark.sf, 8)
        .where(col("vec_id") >= 9000L).select("vec_id").collect().map(_.getLong(0))
      assert(ids.sorted.toSeq == Seq(9000L, 9004L))
      // each new vector has its own top-8 forward list (rk 1..8) and
      // every one of those edges is committed reversed as a backlink
      val edges = GraphAnn.ensureGraph(spark, TestSpark.sf, 8)
        .select("src", "dst", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      Seq(9000L, 9004L).foreach { nv =>
        val fwd = edges.filter(e => e._1 == nv && e._3 >= 1L)
        assert(fwd.map(_._3).sorted.toSeq == (1L to 8L), s"list of $nv: ${fwd.toSeq}")
        fwd.foreach(e => assert(edges.exists(b => b._1 == e._2 && b._2 == nv && b._3 == 0L),
          s"missing backlink ${e._2} -> $nv"))
      }
      def topOf(q: Long) = GraphAnn.graphKnnJoin(spark, TestSpark.sf, queryMod = 100, k = 10)
        .where(col("q_id") === q).orderBy("rk").collect()
      val res = topOf(0L)
      assert(res.head.getLong(1) == 9000L && res.head.getDouble(2) == 1.0,
        s"appended twin must be the top hit: ${res.map(_.toSeq).mkString(";")}")
      // appending the same batch again must not duplicate results
      GraphAnn.appendToGraph(spark, TestSpark.sf, 8, twins)
      val res2 = topOf(0L)
      assert(res2.map(_.getLong(1)).distinct.length == res2.length)
      assert(res2.head.getLong(1) == 9000L)
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("matryoshka eval: full-width row is the 1.0/1.0 anchor, all metrics bounded") {
    val a = VectorSearch.matryoshkaEval(spark, TestSpark.sf).collect()
    val b = VectorSearch.matryoshkaEval(spark, TestSpark.sf).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.map(_.getLong(0)).toSeq == Seq(8L, 16L, 32L, 64L))
    a.foreach { r =>
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0, r.toString)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0, r.toString)
      assert(r.getLong(3) == a.head.getLong(3))
    }
    // the full 64-dim prefix IS the ground truth — exact 1.0 anchor
    val full = a.last
    assert(full.getDouble(1) == 1.0 && full.getDouble(2) == 1.0)
  }

  test("lsh bits eval: deterministic, bounded metrics, shared query batch") {
    val a = Lsh.lshBitsEval(spark, TestSpark.sf).collect()
    val b = Lsh.lshBitsEval(spark, TestSpark.sf).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.map(_.getLong(0)).toSeq == Seq(4L, 6L, 8L, 10L))
    a.foreach { r =>
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0, r.toString)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0, r.toString)
      assert(r.getLong(3) == a.head.getLong(3))
    }
    // sanity floor: the coarsest (4-bit) sweep on the 600-vector spec
    // corpus recalls a meaningful share of the exact top-10 (0.5
    // measured); a hash or probe-set regression would crater this
    assert(a.head.getDouble(1) >= 0.4, a.head.toString)
  }

  test("whitened top-k matches a full driver re-derivation") {
    def r5(x: Double): Double =
      BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val dims = rows.head._2.length
    val n = rows.length
    val mu = (0 until dims).map { j =>
      r5(rows.map(_._2(j)).sum / n) }.toArray
    val sd = (0 until dims).map { j =>
      val s1 = rows.map(_._2(j)).sum; val s2 = rows.map(v => v._2(j) * v._2(j)).sum
      r5(math.sqrt(math.max((s2 - s1 * s1 / n) / (n - 1), 0.0))) }.toArray
    def whiten(v: Array[Double]): Array[Double] =
      v.indices.map(j => if (sd(j) == 0) 0.0 else (v(j) - mu(j)) / sd(j)).toArray
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.map(i => a(i) * b(i)).sum
    val wq = whiten(rows.find(_._1 == 0L).get._2)
    val expected = rows.filter(_._1 != 0L).map { case (id, v) =>
      val w = whiten(v)
      (id, r5(dot(w, wq) / (math.sqrt(dot(w, w)) * math.sqrt(dot(wq, wq)))))
    }.sortBy { case (id, s) => (-s, id) }.take(10).toSeq
    val got = VectorSearch.embedWhitenTopK(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected)
  }

  test("triplet mining matches a driver recount of both legs") {
    def cos5(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map(p => p._1.toDouble * p._2.toDouble).sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      BigDecimal(d / (na * nb)).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val rows = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val byId = rows.map(r => r._1 -> r).toMap
    val got = VectorSearch.tripletMine(spark, TestSpark.sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (aid, alab) = (r.getLong(0), r.getLong(1))
      val scored = rows.filter(_._1 != aid)
        .map(t => (t._1, cos5(t._2, byId(aid)._2), t._3))
      val (pid, ps, _) = scored.filter(_._3 == alab.toInt)
        .minBy { case (id, s, _) => (s, id) }
      val (nid, ns, _) = scored.filter(_._3 != alab.toInt)
        .minBy { case (id, s, _) => (-s, id) }
      assert(r.getLong(2) == pid && r.getDouble(3) == ps, s"pos leg: $r")
      assert(r.getLong(4) == nid && r.getDouble(5) == ns, s"neg leg: $r")
      // the semi-hard flag is exactly the FaceNet band predicate
      assert(r.getBoolean(7) == (ns < ps && r.getDouble(6) < 0.2), r.toString)
    }
  }

  test("graph-ANN: neighbor lists exact, beam search deterministic, recall floor") {
    import graft.operators.GraphAnn
    def cos5(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map(p => p._1.toDouble * p._2.toDouble).sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      BigDecimal(d / (na * nb)).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val vecs = Tables.embeddings(spark, TestSpark.sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // every node's persisted FORWARD list (rk >= 1) must be the top-8
    // of its LSH-blocked verified candidate set by (rounded cosine
    // DESC, id) — the artifact IS the NSW insert loop run as one bulk
    // job; rk = 0 rows are the derived epochs (reverse links +
    // connectivity bridges), checked structurally below
    val cands = graft.operators.Dedup
      .lshVerifiedPairs(spark, TestSpark.sf, 32, 6, 1000L)
      .select("a_id", "b_id").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .groupBy(_._1).map { case (s, ps) => s -> ps.map(_._2).toSet }
    val all = GraphAnn.ensureGraph(spark, TestSpark.sf, 8)
      .select("src", "dst", "score", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val g = all.filter(_._4 >= 1L).groupBy(_._1)
    assert(g.keySet == cands.keySet.filter(cands(_).nonEmpty))
    g.foreach { case (src, rows) =>
      val want = cands(src).toSeq
        .map(id => (id, cos5(vecs(id), vecs(src))))
        .sortBy { case (id, s) => (-s, id) }.take(8)
      val got = rows.sortBy(_._4).map(r => (r._2, r._3)).toSeq
      assert(got == want, s"graph list for src $src:\n$got\nvs\n$want")
    }
    // no duplicate (src, dst) pairs across epochs, every edge scored
    // with the real rounded cosine, and the edge set contains the
    // reverse of every forward edge (bidirectional links)
    val pairs = all.map(e => (e._1, e._2))
    assert(pairs.distinct.length == pairs.length, "duplicate edges across epochs")
    all.foreach(e => assert(e._3 == cos5(vecs(e._1), vecs(e._2)), e.toString))
    val pairSet = pairs.toSet
    g.values.flatten.foreach(e =>
      assert(pairSet((e._2, e._1)), s"missing reverse of (${e._1}, ${e._2})"))
    // CONNECTIVITY (the r14 sf50 0.0-recall fix): every corpus node
    // must be reachable from the global-min hub, in at most
    // BridgeRounds + 1 hops — the bridge construction's guarantee
    val adj = pairs.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val hub = vecs.keys.min
    var frontier = Set(hub); val seen = scala.collection.mutable.Set(hub)
    var depth = 0
    while (frontier.nonEmpty && seen.size < vecs.size) {
      frontier = frontier.flatMap(n => adj.getOrElse(n, Array.empty[Long])).filterNot(seen)
      seen ++= frontier
      depth += 1
    }
    assert(seen.size == vecs.size,
      s"${vecs.size - seen.size} nodes unreachable from hub $hub")
    assert(depth <= GraphAnn.BridgeRounds + 1,
      s"hub eccentricity $depth exceeds the BridgeRounds + 1 guarantee")
    // search: deterministic, ranked, query-free, scores recomputable
    def walk() = GraphAnn.graphKnnJoin(spark, TestSpark.sf, queryMod = 100, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val all2 = walk()
    assert(all2 == walk())
    all2.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length == 10 && rs.map(_._4).sorted == (1L to 10L), s"query $q ranks")
      rs.foreach { r =>
        assert(r._2 != q, "query must not answer itself")
        assert(r._3 == cos5(vecs(r._2), vecs(q)), r.toString)
      }
    }
    // beam ef-search must find most of the exact top-10 on the test
    // corpus (measured 8/10 at sf0.001; floor leaves jitter margin —
    // the walk itself is deterministic, the floor guards refactors)
    val a = all2.filter(_._1 == 0L).map(_._2)
    val exact = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos5(v, vecs(0L))) }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    assert(a.count(exact) >= 6, s"recall collapsed: $a vs $exact")
  }

  test("label-noise suspects: plurality disagrees, counts reconcile, ranked cut") {
    val rows = graft.operators.VectorSearch
      .labelNoiseSuspects(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lab, sug, votes, agree, dis) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(sug != lab, "a suspect's plurality label must differ from its own")
      // the plurality count can never lose to the own-label count
      assert(votes >= agree, s"votes $votes < agree $agree")
      assert(votes >= 1 && votes <= 10 && agree >= 0 && agree <= 10)
      assert(dis == (10 - agree) / 10.0, s"disagreement recount for ${r.getLong(0)}")
    }
    // ranked cut: disagreement DESC, then votes DESC, then vec_id
    rows.sliding(2).foreach {
      case Array(x, y) =>
        val k1 = (-x.getDouble(5), -x.getLong(3), x.getLong(0))
        val k2 = (-y.getDouble(5), -y.getLong(3), y.getLong(0))
        assert(Ordering[(Double, Long, Long)].lteq(k1, k2), s"order violated: $k1 > $k2")
      case _ => ()
    }
  }

  test("quantization error report matches a driver recount per family") {
    import org.apache.spark.sql.functions.col
    def r5(x: Double) = BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = graft.Tables.embeddings(spark, TestSpark.sf)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val dim = vecs.head.length
    val (mn, mx) = (vecs.map(_.min).min, vecs.map(_.max).max)
    val s = (mx - mn) / 256
    val eSq8 = vecs.map { v =>
      r5(v.map { x =>
        val c = if (mx > mn) math.min(math.floor((x - mn) / (mx - mn) * 256), 255.0) else 0.0
        val xh = mn + s * (c + 0.5)
        (x - xh) * (x - xh)
      }.sum)
    }
    val alpha = r5(vecs.map(_.map(math.abs).sum).sum / (vecs.length.toLong * dim))
    val eBin = vecs.map { v =>
      r5(v.map { x => val xh = if (x > 0) alpha else -alpha; (x - xh) * (x - xh) }.sum)
    }
    val (_, books) = graft.operators.Quantized.ensurePqIndex(spark, TestSpark.sf, 8, 16)
    val sub = dim / 8
    val ePq = vecs.map { v =>
      r5((0 until 8).map { si =>
        val x = v.slice(si * sub, (si + 1) * sub)
        books(si).map(c => x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum).min
      }.sum)
    }
    val rows = graft.operators.Quantized.quantErrorReport(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("binary", "float32", "pq", "sq8"))
    def check(fam: String, errs: Array[Double], tol: Double): Unit = {
      val r = rows(fam)
      assert(math.abs(r.getDouble(2) - r5(errs.sum / errs.length)) <= tol, s"$fam mean")
      assert(math.abs(r.getDouble(3) - errs.max) <= tol, s"$fam max")
    }
    // driver recount folds per-element; the engine folds algebraically
    // expanded terms — agreement within a 1e-4 float-assoc tolerance
    check("sq8", eSq8, 1e-4); check("binary", eBin, 1e-4); check("pq", ePq, 1e-4)
    assert(rows("float32").getDouble(2) == 0.0 && rows("float32").getDouble(3) == 0.0)
    assert(rows("sq8").getLong(1) == 64 && rows("pq").getLong(1) == 8 &&
      rows("binary").getLong(1) == 8 && rows("float32").getLong(1) == 256)
    // the families the table exists to rank: fewer bytes, more error
    assert(rows("sq8").getDouble(2) < rows("pq").getDouble(2),
      "sq8 at 64 B must reconstruct better than pq at 8 B")
  }

  test("knn hubness recounts from the exact edge frame") {
    import org.apache.spark.sql.functions.col
    val e = graft.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def r5(x: Double) = BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      r5(dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)))
    }
    val queries = e.keys.filter(_ % 20 == 0).toSeq.sorted.take(64)
    val edges = queries.flatMap { q =>
      e.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(e(q), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(10)
        .map { case (id, _) => (q, id) }
    }
    val deg = edges.groupBy(_._2).map { case (n, g) => n -> g.size }
    val (hubId, hubD) = deg.toSeq.sortBy { case (n, d) => (-d, n) }.head
    val qset = queries.toSet
    val qq = edges.filter(p => qset(p._2))
    val eset = edges.toSet
    val mutual = qq.count(p => eset((p._2, p._1)))
    val r = graft.operators.VectorSearch.knnHubness(spark, TestSpark.sf).collect().head
    assert(r.getLong(0) == queries.size.toLong)
    assert(r.getLong(1) == edges.size.toLong)
    assert(r.getLong(2) == deg.size.toLong)
    assert(r.getLong(4) == hubD.toLong && r.getLong(5) == hubId, "hub")
    assert(r.getLong(6) == qq.size.toLong && r.getLong(7) == mutual.toLong)
  }

  test("rerank-depth sweep rows recount against per-depth reranked searches") {
    import graft.operators.Quantized
    val cs = Seq(10, 25, 50)
    val rows = Quantized.rerankDepthSweep(spark, TestSpark.sf, cs = cs).collect()
      .map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.keySet == cs.toSet)
    val gt = VectorSearch.topK(spark, TestSpark.sf, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    cs.foreach { c =>
      // the sweep's per-depth cut must equal running the full
      // retrieve-then-rerank search at that depth (prefix nesting is
      // an optimization, never a semantic change)
      val direct = Quantized.ivfPqRerankTopK(spark, TestSpark.sf, queryId = 0,
        nCells = 16, nprobe = 4, c = c, k = 10)
        .collect().map(_.getLong(0)).toSet
      val (sl, hits, recall) = rows(c)
      assert(sl <= c)
      assert(hits == direct.count(gt.contains).toLong, s"hits mismatch at c=$c")
      assert(recall == math.floor(hits.toDouble / 10 * 1e5 + 0.5) / 1e5)
    }
    // monotone: a deeper shortlist can only add candidates
    val sorted = cs.sorted.map(rows(_)._2)
    assert(sorted == sorted.sorted, "recall must be non-decreasing in c")
  }

  test("heap-built graph edges equal the distinct+window construction row-for-row") {
    // buildGraph's dedup-aware bounded heap replaced the
    // .distinct() + global ranking window (two full shuffles of the
    // multi-band candidate stream at 1 M vectors) — the edge SET must
    // be bit-identical, because every graph consumer's oracle replays
    // the top-g-by-(score DESC, dst)-over-distinct-pairs definition
    import graft.operators.{Dedup, GraphAnn}
    import org.apache.spark.sql.expressions.Window
    val g = 8
    val heap = GraphAnn.buildGraph(spark, TestSpark.sf, g).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val vp = Dedup.lshVerifiedPairs(spark, TestSpark.sf, nBands = 32,
      bitsPerBand = 6, bucketCap = 1000L)
    val sym = vp.select(col("a_id").as("src"), col("b_id").as("dst"), col("score"))
      .unionByName(vp.select(col("b_id").as("src"), col("a_id").as("dst"), col("score")))
    val wk = Window.partitionBy(col("src")).orderBy(col("score").desc, col("dst"))
    val window = sym.withColumn("rk", row_number().over(wk).cast("long"))
      .where(col("rk") <= g).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(heap == window, "heap ranking must reproduce the window construction exactly")
  }

  test("batch graph kNN join is row-identical to the single-query walk per query") {
    // the set-at-a-time walk must reproduce a driver-side walk exactly
    // for EVERY sampled query: one beam seeded {fixed entry, self}
    // (the fixed entry is the lowest id, or the second-lowest for the
    // query that IS the lowest), 6 hops of "next frontier = top-4 of
    // frontier ∪ neighbors by (score DESC, id)", then the visited set
    // minus the query, reranked by (score DESC, id)
    import graft.functions.VectorFunctions.{cosineLocal, dotLocal, r5}
    import graft.operators.GraphAnn
    val dir = TestSpark.sf
    val (hops, beam, k) = (6, 4, 10)
    val vecs = Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val adj = GraphAnn.ensureGraph(spark, dir, 8).select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (src, es) => src -> es.map(_._2).toSeq }
    def cos5(a: Array[Float], b: Array[Float]): Double = {
      val (ad, bd) = (a.map(_.toDouble), b.map(_.toDouble))
      r5(cosineLocal(dotLocal(ad, bd), math.sqrt(dotLocal(ad, ad)), math.sqrt(dotLocal(bd, bd))))
    }
    val sorted = vecs.keys.toSeq.sorted
    def driverWalk(q: Long): Seq[(Long, Double)] = {
      val score = (v: Long) => cos5(vecs(v), vecs(q))
      val byScore = Ordering.by[Long, (Double, Long)](v => (-score(v), v))
      val entry = if (q == sorted.head) sorted(1) else sorted.head
      var frontier = Seq(entry, q).distinct
      val visited = scala.collection.mutable.Set(frontier: _*)
      for (_ <- 0 until hops) {
        val u = (frontier ++ frontier.flatMap(adj.getOrElse(_, Nil))).distinct
        visited ++= u
        frontier = u.sorted(byScore).take(beam)
      }
      visited.toSeq.filter(_ != q).sorted(byScore).take(k).map(v => v -> score(v))
    }
    val batch = GraphAnn.graphKnnJoin(spark, dir, queryMod = 100, k = k, hops = hops,
        beam = beam).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    assert(batch.keySet == vecs.keySet.filter(_ % 100 == 0))
    batch.keys.toSeq.sorted.foreach { q =>
      val single = driverWalk(q)
      assert(batch(q) == single, s"query $q: batch=${batch(q)} driver=$single")
    }
  }

  test("nprobe planner picks the cheapest measured probe depth meeting the target") {
    val curve = Ivf.recallEval(spark, TestSpark.sf, nCells = 16, queryMod = 100,
      k = 10, nprobes = Seq(1, 2, 4)).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    val got = Ivf.nprobePlanner(spark, TestSpark.sf).collect().head
    val met = curve.filter(_._2 >= 0.9)
    val exp = if (met.nonEmpty) met.minBy(_._1) else curve.maxBy(_._1)
    assert(got.getLong(1) == exp._1.toLong, "picked nprobe diverges from the rule")
    assert(got.getDouble(2) == exp._2 && got.getDouble(3) == exp._3,
      "planner row must carry the curve row's own metrics")
    assert(got.getBoolean(5) == met.nonEmpty)
    // the rule's economy: every cheaper measured depth misses the target
    curve.filter(_._1 < exp._1).foreach { c =>
      if (met.nonEmpty) assert(c._2 < 0.9, s"nprobe ${c._1} met the target but wasn't picked")
    }
  }

  test("familyEval rows reconcile with the individually-oracled family entry points") {
    // the harness's Precision@K / MRR become DERIVED facts: recount
    // every family's metrics from the same single-query entry points
    // the hard oracles check, against ground truth re-derived through
    // the oracled flat search (familyEval itself uses knnJoin — an
    // independent code path for the same exact top-k)
    import graft.operators.Quantized
    val dir = TestSpark.sf
    val k = 10
    val fe = Ivf.familyEval(spark, dir, queryMod = 500, k = k).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(4)))).toMap
    val qIds = Tables.embeddings(spark, dir).where(col("vec_id") % 500 === 0)
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted.take(8).toSeq
    val gt = qIds.map(q => q -> VectorSearch.topK(spark, dir, q, k).collect()
      .map(_.getLong(0)).toSeq).toMap
    val nq = qIds.length.toDouble
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq
    def recount(run: Long => Seq[Long]): (Double, Double) = {
      val res = qIds.map(q => q -> run(q))
      val p = res.map { case (q, ns) => ns.count(gt(q).contains).toLong }.sum / (nq * k)
      val rr = res.map { case (q, ns) =>
        val i = ns.indexOf(gt(q).head)
        if (i >= 0) 1.0 / (i + 1) else 0.0
      }.sum / nq
      (math.rint(p * 1e5) / 1e5, math.rint(rr * 1e5) / 1e5)
    }
    val checks: Seq[(String, Long => Seq[Long])] = Seq(
      "flat" -> ((q: Long) => ids(VectorSearch.topK(spark, dir, q, k))),
      "ivf_nprobe4" -> ((q: Long) => ids(Ivf.ivfTopK(spark, dir, q, 16, 4, k))),
      "lsh_multiprobe" -> ((q: Long) => ids(Lsh.lshTopK(spark, dir, q, 8, k))),
      "sq8" -> ((q: Long) => ids(Quantized.sq8TopK(spark, dir, q, k))),
      "pq_adc" -> ((q: Long) => ids(Quantized.pqTopK(spark, dir, q, k))),
      "ivfpq_nprobe4" -> ((q: Long) => ids(Quantized.ivfPqTopK(spark, dir, q, 16, 4, k))),
      "ivfpq_rerank_c50" -> ((q: Long) =>
        ids(Quantized.ivfPqRerankTopK(spark, dir, q, 16, 4, 50, k))),
      "ivfpq_res_nprobe4" -> ((q: Long) =>
        ids(Quantized.ivfPqResidualTopK(spark, dir, q, 16, 4, k))),
      "binary_c50" -> ((q: Long) => ids(Quantized.binaryTopK(spark, dir, q, 50, k))))
    assert(checks.map(_._1).toSet == fe.keySet, "family row set")
    checks.foreach { case (fam, run) =>
      val (p, rr) = recount(run)
      val (hp, hrr, hn) = fe(fam)
      assert(hn == qIds.length, s"$fam sample size")
      assert(hp == p, s"$fam Precision@K: harness=$hp recount=$p")
      assert(hrr == rr, s"$fam MRR: harness=$hrr recount=$rr")
    }
  }

  test("filter planner replays the integer decision rule from a driver recount") {
    val rows = Ivf.filterPlanner(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    def r5(x: Double) = BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    val labels = Tables.embeddings(spark, TestSpark.sf)
      .select("label").collect().map(_.getInt(0).toLong)
    val n = labels.length.toLong
    val byLab = labels.groupBy(identity).map { case (l, g) => l -> g.length.toLong }
    // conservation + per-label arithmetic + the integer decision rule
    assert(rows.map(_.getLong(1)).sum == n)
    rows.foreach { r =>
      val nl = byLab(r.getLong(0))
      assert(r.getLong(1) == nl && r.getLong(3) == nl)
      assert(r.getDouble(2) == r5(nl.toDouble / n))
      assert(r.getLong(4) == n * 4 / 16)
      assert(r.getDouble(6) == r5(nl * 4 / 16.0))
      val want = if (nl * 4 < 10 * 16) "prefilter"
        else if (nl <= n * 4 / 16) "prefilter" else "postfilter"
      assert(r.getString(7) == want, s"label ${r.getLong(0)} strategy")
      // the worst-case probe volume can never undercut the uniform
      // estimate (top-nprobe cells are at least average-sized)
      assert(r.getLong(5) >= r.getLong(4), "worst < uniform estimate")
    }
    // worst-case recount from the real assignment
    val occ = Ivf.buildIndex(spark, TestSpark.sf, 16)._1
      .groupBy(col("cell")).count().collect().map(_.getLong(1)).sorted.reverse
    assert(rows.head.getLong(5) == occ.take(4).sum)
  }
}
