package graft

import org.apache.spark.sql.catalyst.expressions.IntegerLiteral
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytics, Curation, Ivf, Quantized, TopK, VectorSearch}

/** Physical-plan assertions: the scale claims in SURVEY.md §5 must be
  * visible in the executed plan, not just intended.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Every registered query's optimized plan, built once for the
    * whole-surface lints below; a query whose construction or
    * planning throws keeps its failure.
    */
  private lazy val optimizedPlans
      : Seq[(String, scala.util.Try[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> scala.util.Try(fn(spark, TestSpark.sf).queryExecution.optimizedPlan)
    }

  /** The window's input with cardinality-preserving projections
    * stripped (column pruning may sit a Project between a window and
    * the limit it ranks).
    */
  private def windowChild(w: org.apache.spark.sql.catalyst.plans.logical.Window)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    var c = w.child
    while (c.isInstanceOf[Project]) c = c.asInstanceOf[Project].child
    c
  }

  /** Every unpartitioned window in `p` whose frame is not structurally
    * bounded, i.e. whose child is not a GlobalLimit with a literal
    * limit (such a frame holds at most that many rows whatever the
    * corpus size).
    */
  private def unboundedGlobalWindows(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[org.apache.spark.sql.catalyst.plans.logical.Window] = {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window}
    p.collect {
      case w: Window if w.partitionSpec.isEmpty && (windowChild(w) match {
        case GlobalLimit(IntegerLiteral(_), _) => false
        case _ => true
      }) => w
    }
  }

  test("global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = plan(VectorSearch.topK(spark, TestSpark.sf, 0, 10))
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
  }

  test("vector scans prune to the needed columns only") {
    val p = plan(VectorSearch.topK(spark, TestSpark.sf, 0, 10))
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding"))
    assert(!p.contains("label"), "label must not be read for unfiltered search")
  }

  test("q3 filters are pushed into the parquet scans") {
    val p = plan(Analytics.q3Shipping(spark, TestSpark.sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"))
  }

  test("dimension joins broadcast the small side") {
    val p = plan(Analytics.q5RegionVolume(spark, TestSpark.sf))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("popularity baseline broadcasts the bounded top list (no catalog rank window)") {
    val df = graft.operators.Rec.recPopularityBaseline(spark, TestSpark.sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), "glist must join as a broadcast")
    // the only window is the split's user-partitioned leave-last-out
    // rank; the global item ranking never plans as a window at all
    // (it is a TakeOrdered into a driver literal)
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.forall(_.contains("user_id")),
      s"only the user-partitioned split window is allowed:\n${windows.mkString("\n")}")
  }

  test("filter planner plans no window and no sort-merge join (aggregates + broadcast)") {
    val p = plan(Ivf.filterPlanner(spark, TestSpark.sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("windowspecdefinition"),
      "the planner table is two aggregates and a broadcast total")
  }

  test("q4 existence test plans a LEFT SEMI join (no lineitem fan-out)") {
    val p = plan(Analytics.q4Priority(spark, TestSpark.sf))
    assert(p.contains("LeftSemi"), p.take(800))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      "order-date window must reach the orders scan")
  }

  test("q22 inactivity test plans a LEFT ANTI join with the date filter pushed") {
    val p = plan(Analytics.q22DormantRich(spark, TestSpark.sf))
    assert(p.contains("LeftAnti"), p.take(800))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "recency window must reach the orders scan")
  }

  test("q18 aggregates and filters lineitem BEFORE joining orders/customer") {
    val df = Analytics.q18LargeOrders(spark, TestSpark.sf)
    val p = plan(df)
    // the HAVING survives as a filter on the aggregate output, and the
    // big-side rollup partial-aggregates map-side (two HashAggregate levels)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p.take(800))
    assert(p.contains("TakeOrderedAndProject"), "top-N must not global-sort")
  }

  test("q21 resolves the EXISTS/NOT-EXISTS pair with windows, not self-joins") {
    val p = plan(Analytics.q21SoleLate(spark, TestSpark.sf))
    // one orderkey-join of the two facts; the supplier-count and
    // late-count existence tests must NOT add lineitem self-joins
    assert(p.linesIterator.count(_.contains("Scan parquet")) <= 3, p.take(1200))
    assert(p.contains("Window"), "per-order counts must be windowed")
    assert(p.contains("TakeOrderedAndProject"), "top-N must not global-sort")
  }

  test("q16 supplier denylist plans a broadcast LEFT ANTI (NOT IN at scale)") {
    val p = plan(Analytics.q16SupplierVariety(spark, TestSpark.sf))
    assert(p.contains("LeftAnti"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), "denylist must broadcast")
  }

  test("minhash band blocking broadcasts the hot-bucket denylist (flood gate, no extra shuffle)") {
    val p = plan(graft.operators.Dedup.minhashCandEst(spark, TestSpark.sf, 5, 16, 2))
    // the occupancy gate must ride a broadcast LEFT ANTI on (band, bv):
    // the hot set is tiny by construction, and a shuffled anti-join
    // would re-partition the full band frame just to subtract it
    assert(p.contains("LeftAnti"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), "hot-bucket set must broadcast")
  }

  test("q19 disjunctive predicates evaluate in one lineitem pass (no union of scans)") {
    val p = plan(Analytics.q19Disjunctive(spark, TestSpark.sf))
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 2, p.take(1200))
    assert(!p.contains("Union"), "OR branches must not union three scans")
  }

  test("q15 scalar max broadcasts over the supplier rollup (no global sort)") {
    val p = plan(Analytics.q15TopSupplier(spark, TestSpark.sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(800))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      "ship-date window must reach the lineitem scan")
  }

  test("gini concentration never ranks users globally — one window over the bounded histogram") {
    val df = Analytics.engagementGini(spark, TestSpark.sf)
    val p = plan(df)
    // per-user counts collapse to the (cnt, multiplicity) histogram
    // BEFORE any window: two aggregate pairs precede the single window
    assert(p.linesIterator.count(_.contains("Window")) >= 1, p.take(800))
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p.take(1200))
    assert(df.head().getAs[Double]("gini") > 0.0)
  }

  test("stickiness reuses one materialized (user,week) frame for both legs") {
    val df = Analytics.userStickiness(spark, TestSpark.sf)
    df.collect()
    val nodes = allExecNodes(df.queryExecution.executedPlan)
    // both the active count and the retained semi-join must read the
    // ScratchCache'd distinct frame — the events parquet scan lives
    // only inside the cached relation's one-time build
    assert(nodes.forall(
      !_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
      df.queryExecution.executedPlan.toString.take(1000))
    assert(nodes.count(_.getClass.getSimpleName.startsWith("InMemoryTableScan")) >= 2,
      df.queryExecution.executedPlan.toString.take(1000))
    assert(df.queryExecution.executedPlan.toString.contains("LeftSemi"))
  }

  test("band join plans a broadcast HASH join on the bin key, never a nested loop") {
    val p = plan(Analytics.bandJoin(spark, TestSpark.sf))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range test must ride the bin equi-join as residual:\n" + p.take(1000))
    assert(p.contains("BroadcastHashJoin"), p.take(1000))
  }

  test("native session_window aggregates without a hand-rolled island pass") {
    val p = plan(Analytics.sessionWindowAgg(spark, TestSpark.sf))
    assert(p.contains("session_window"), p.take(1000))
  }

  test("triangle census reuses one cached oriented edge list for all three roles") {
    val df = graft.operators.Graph.itemTriangles(spark, TestSpark.sf)
    df.collect()
    val nodes = allExecNodes(df.queryExecution.executedPlan)
    assert(nodes.count(_.getClass.getSimpleName.startsWith("InMemoryTableScan")) >= 3,
      df.queryExecution.executedPlan.toString.take(1000))
    assert(df.queryExecution.executedPlan.toString.contains("LeftSemi"))
    val r = df.head()
    assert(r.getAs[Long]("n_triangles") > 0L)
    assert(r.getAs[Double]("clustering_coeff") > 0.0)
  }

  test("knn ranking uses WindowGroupLimit (partial per-partition top-k)") {
    val p = plan(VectorSearch.knnJoin(spark, TestSpark.sf, 100, 5))
    assert(p.contains("WindowGroupLimit"))
  }

  test("heap kNN aggregates without a window or per-partition sort") {
    val df = TopK.knnJoinHeap(spark, TestSpark.sf, 100, 5)
    val p = plan(df)
    assert(!p.contains("Window"), "heap path must not plan a window")
    assert(p.contains("ObjectHashAggregate"), p.take(500))
  }

  test("heap kNN returns exactly the window kNN's rows") {
    val a = TopK.knnJoinHeap(spark, TestSpark.sf, 100, 5).collect().toSeq
    val b = VectorSearch.knnJoin(spark, TestSpark.sf, 100, 5).collect().toSeq
    assert(a.map(_.toSeq) == b.map(_.toSeq))
  }

  test("hash sampling is a pushdown-friendly narrow scan (no shuffle before filter)") {
    val p = plan(Curation.hashSample(spark, TestSpark.sf))
    assert(!p.contains("Exchange hashpartitioning"), "sampling must not shuffle")
  }

  test("sq8 search pushes the query-id filters into the scans") {
    val p = plan(Quantized.sq8TopK(spark, TestSpark.sf, 0, 10))
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), Not(EqualTo(vec_id,0))]"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("heap kNN partial-aggregates map-side (k rows per key per partition)") {
    val p = plan(TopK.knnJoinHeap(spark, TestSpark.sf, 100, 5))
    // ObjectHashAggregate appears twice: partial (map side) + final
    assert(p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2, p.take(800))
  }

  test("similarity scoring runs the codegen vec_dot kernel") {
    val p = plan(VectorSearch.topK(spark, TestSpark.sf, 0, 10))
    assert(p.contains("vecdot"))
  }

  test("ivf probe partition-prunes the persisted index to the probed cells") {
    val df = Ivf.ivfTopK(spark, TestSpark.sf, queryId = 0, nCells = 16, nprobe = 4, k = 10)
    val p = plan(df)
    assert(p.contains("PartitionFilters: ["), p.take(800))
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]* IN \\(".r.findFirstIn(p).isDefined,
      "probe scan must carry literal cell-id partition filters:\n" + p.take(1500))
  }

  test("planner-routed filtered search picks prefilter for a rare label and " +
    "postfilter for a loose set, with the matching plan shape") {
    // rare single label (~10% < nprobe/nCells = 25%): the integer rule
    // routes PREFILTER — an exact scan whose label predicate reaches
    // the parquet reader, and NO index-cell pruning anywhere
    val rare = Ivf.plannedFilteredTopK(spark, TestSpark.sf, queryId = 0,
      labels = Seq(3), k = 10)
    assert(rare.head().getString(0) == "prefilter", "rare label must route prefilter")
    val pRare = plan(rare)
    assert("PushedFilters: \\[[^\\]]*(In|EqualTo)\\(label".r.findFirstIn(pRare).isDefined,
      "prefilter route must push the label predicate into the scan:\n" + pRare.take(1500))
    assert(!pRare.contains("PartitionFilters: [isnotnull(cell"),
      "prefilter route must not touch the IVF index:\n" + pRare.take(1500))
    // loose 8-label set (~80% > 25%): the rule routes POSTFILTER — the
    // probe carries literal cell ids (partition pruning) and the label
    // discard happens on the probed rows
    val loose = Ivf.plannedFilteredTopK(spark, TestSpark.sf, queryId = 0,
      labels = Seq(0, 1, 2, 3, 4, 5, 6, 7), k = 10)
    assert(loose.head().getString(0) == "postfilter", "loose set must route postfilter")
    val pLoose = plan(loose)
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]* IN \\(".r.findFirstIn(pLoose).isDefined,
      "postfilter route must partition-prune to the probed cells:\n" + pLoose.take(1500))
    assert(pLoose.contains("TakeOrderedAndProject") && !pLoose.contains("Exchange"),
      "postfilter rank must be the shuffle-free TakeOrdered shape:\n" + pLoose.take(800))
  }

  test("ivf single-query ranking is a shuffle-free TakeOrdered + bounded rank window") {
    // the single-query serving shape (round 16): ORDER BY + LIMIT k
    // plans as TakeOrderedAndProject (per-partition heaps, no
    // exchange), and the rk window runs over that k-row
    // SinglePartition result — zero Exchange nodes end to end, so a
    // probe call never pays AQE stage coordination. The window is
    // unpartitioned, and its child must be the k-row limit: the
    // bounded frame the global window lint accepts.
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window}
    val df = Ivf.ivfTopK(spark, TestSpark.sf, queryId = 0, nCells = 16, nprobe = 4, k = 10)
    val windows = df.queryExecution.optimizedPlan.collect { case w: Window => w }
    assert(windows.nonEmpty && windows.forall(w => windowChild(w) match {
      case GlobalLimit(IntegerLiteral(10), _) => true
      case _ => false
    }), s"rank window must sit on the 10-row limit:\n${windows.mkString("\n")}")
    assert(unboundedGlobalWindows(df.queryExecution.optimizedPlan).isEmpty)
    val p = plan(df)
    val winIdx = p.indexOf("Window")
    val takeIdx = p.indexOf("TakeOrderedAndProject")
    assert(winIdx >= 0 && takeIdx > winIdx,
      "rank window must consume TakeOrdered's bounded output:\n" + p.take(1200))
    assert(!p.contains("Exchange"),
      "single-query probe must plan zero exchanges:\n" + p.take(1200))
  }

  test("lsh probe partition-prunes the persisted index to the probed buckets") {
    val df = graft.operators.Lsh.lshTopK(spark, TestSpark.sf, queryId = 0, nBits = 8, k = 10)
    val p = plan(df)
    assert(p.contains("PartitionFilters: ["), p.take(800))
    assert("PartitionFilters: \\[[^\\]]*bucket[^\\]]* IN \\(".r.findFirstIn(p).isDefined,
      "probe scan must carry literal bucket-id partition filters:\n" + p.take(1500))
  }

  test("collapsed multi-VecDot aggregate compiles under codegen (no silent fallback)") {
    // regression: VecDot.doGenCode once emitted fixed local names (n/s/i);
    // projection collapse flattening >=2 VecDots into one codegen scope
    // (e.g. Lsh.lshTopK's qRow aggregate: first(sqrt(vecdot(e,e))) next to
    // sum(when(vecdot(e,plane)>=0,...))) made Janino reject the generated
    // class and Spark silently ran the stage interpreted. Forcing
    // CODEGEN_ONLY + fallback=false turns that into a hard failure.
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions._
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val dim = graft.operators.Lsh.embeddingDim(spark, TestSpark.sf)
      val e = Tables.embeddings(spark, TestSpark.sf)
        .withColumn("nrm", l2norm(col("embedding")))
      val planes = graft.operators.Lsh.hyperplanes(spark, 8, dim)
      val rows = e.where(col("vec_id") === 0).crossJoin(broadcast(planes))
        .groupBy(col("vec_id"))
        .agg(first(col("nrm")).as("qn"),
          sum(when(dotd(col("embedding"), col("plane")) >= 0, col("weight"))
            .otherwise(0L)).as("qb"))
        .collect()
      assert(rows.nonEmpty)
      // and the full multi-probe search path stays codegen-clean too
      assert(graft.operators.Lsh.lshTopK(spark, TestSpark.sf, queryId = 0, nBits = 8, k = 10)
        .collect().nonEmpty)
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("sq8 search scans the persisted codes artifact, never the float corpus") {
    val df = Quantized.sq8TopK(spark, TestSpark.sf, 0, 10)
    val p = plan(df)
    // the per-query scan reads the small-int codes tables under the
    // sq8_v2_* artifact; the full-float corpus is only ever read by the
    // one-time ensureSq8Index build (a separate, earlier execution)
    assert(p.contains("sq8_v2"), "search must read the persisted artifact:\n" + p.take(1200))
    assert(p.contains("codes"), p.take(1200))
    // decode is folded into scalar algebra around one VecDot — the
    // scoring projection stays codegen (no transform() fallback)
    assert(p.contains("vecdot"), p.take(1200))
    assert(!p.contains("transform("), "no interpreted per-element decode:\n" + p.take(1200))
    assert(!p.contains("embeddings.parquet"),
      "per-query plan must not rescan the float corpus:\n" + p.take(1500))
    // and the artifact landed under the index root (build-once evidence)
    val rootDir = new java.io.File(graft.sources.IndexStore.root(spark))
    assert(rootDir.listFiles.exists(_.getName.startsWith("sq8_v2")),
      rootDir.listFiles.map(_.getName).mkString(","))
  }

  /** Every node of the EXECUTED physical tree, descending through the
    * wrappers that hide subtrees from TreeNode.collect: the AQE root
    * and materialized query stages are leaf nodes whose real plans
    * hang off fields, not children.
    */
  private def allExecNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p +: (p match {
      case a: AdaptiveSparkPlanExec => allExecNodes(a.executedPlan)
      case q: QueryStageExec => allExecNodes(q.plan)
      case other => other.children.flatMap(allExecNodes)
    })
  }

  /** The executed plans of every query one warm call runs (its eager
    * driver passes plus the returned frame's `collect()`), and the
    * Spark jobs they submit. A first call warms the model memos.
    */
  private def warmCall(call: () => org.apache.spark.sql.DataFrame)
      : (Seq[org.apache.spark.sql.execution.SparkPlan], Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.graft.GraftBus
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    call().collect()
    GraftBus.drain(sc)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.listenerManager.register(ql)
    sc.addSparkListener(jl)
    try {
      call().collect()
      GraftBus.drain(sc)
    } finally {
      spark.listenerManager.unregister(ql)
      sc.removeSparkListener(jl)
    }
    (plans.toArray(Array.empty[QueryExecution]).toSeq.map(_.executedPlan), jobs.get)
  }

  /** The hybrid blend's shape over one warm call of SparkEntry query
    * `name`: no scratch cache, no file scan executed twice, `embedding`
    * read by `embeddingScans` scans (the candidate scan; a by-id query's
    * member lookup is a driver point read), and at most `maxJobs` Spark
    * jobs. Returns the executed file scans.
    */
  private def assertBlendShape(name: String, maxJobs: Int, embeddingScans: Int = 1)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val (plans, jobs) = warmCall(() => SparkEntry.queries(name)(spark, TestSpark.sf))
    val nodes = plans.flatMap(allExecNodes)
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val shown = plans.map(_.toString.take(1500)).mkString("\n---\n")
    assert(!nodes.exists(_.getClass.getSimpleName.startsWith("InMemoryTableScan")),
      s"$name must not go through a scratch cache:\n" + shown)
    assert(scans.map(_.canonicalized).distinct.size == scans.size,
      s"$name executes a file scan twice:\n" + scans.mkString("\n"))
    assert(scans.count(_.requiredSchema.fieldNames.contains("embedding")) == embeddingScans,
      s"$name must read `embedding` in $embeddingScans scan(s):\n" + scans.mkString("\n"))
    assert(jobs <= maxJobs, s"$name ran $jobs Spark jobs, bound $maxJobs:\n" + shown)
    scans
  }

  /** The documents scan of a filtered hybrid carries both metadata
    * predicates as pushed parquet filters. */
  private def assertFiltersPushed(scans: Seq[org.apache.spark.sql.execution.FileSourceScanExec])
      : Unit = {
    val pushed = scans
      .filter(_.relation.location.rootPaths.exists(_.getName == "documents.parquet"))
      .map(_.metadata.getOrElse("PushedFilters", "")).mkString(" ")
    assert(pushed.contains("EqualTo(lang,en)"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(n_chars,200)"), pushed)
  }

  // Job bounds: the free-text forms run the keyword leg (1 job: the
  // document norms or lengths are a driver lookup) and the candidate
  // scan (1); a metadata filter adds its documents broadcast (1); the
  // by-id form adds the query document's terms broadcast (1), and its
  // member vector is a driver point read (no job, no `embedding` scan).
  test("hybrid blend materializes the candidate subtree once (no double corpus scan)") {
    assertBlendShape("hybrid_topk_free", maxJobs = 2)
    assertBlendShape("hybrid_topk_text", maxJobs = 2)
    assertBlendShape("hybrid_topk", maxJobs = 3)
  }

  test("bm25 hybrid blend shares the single-scan shape and pushes candidate filters") {
    assertBlendShape("bm25_hybrid_topk", maxJobs = 2)
    assertFiltersPushed(assertBlendShape("bm25_hybrid_filtered", maxJobs = 3))
  }

  // One bound per serve_small request shape (perfbench's seven types,
  // filtered in both forms), counted over one warm call plus its
  // collect(): a by-id member lookup is a driver point read, compare is
  // scored on the driver, and the keyword leg reads the document norms
  // from a driver lookup instead of a broadcast.
  test("every serve request shape runs within its Spark job bound") {
    import org.apache.spark.sql.functions.col
    import graft.functions.CorpusLexicalEncoder
    import graft.operators.TextRetrieval
    val sf = TestSpark.sf
    spark.conf.set("spark.graft.encoder.class", "graft.functions.CorpusLexicalQueryEncoder")
    spark.conf.set(CorpusLexicalEncoder.DirKey, sf)
    try {
      val qv = Tables.embeddings(spark, sf).where(col("vec_id") === 5)
        .select("embedding").head.getSeq[Float](0).toArray
      val text = TextRetrieval.ensureModel(spark, sf).dfT
        .orderBy(col("df").desc, col("term")).select("term").limit(3)
        .collect().map(_.getString(0)).mkString(" ")
      val shapes: Seq[(String, Int, () => org.apache.spark.sql.DataFrame)] = Seq(
        ("item", 1, () => VectorSearch.topK(spark, sf, 3L, 10)),
        ("filtered, labels", 1, () => VectorSearch.filteredTopK(spark, sf, 3L, 10, Seq(1, 3))),
        ("filtered, lang/min_chars", 2,
          () => VectorSearch.metaFilteredTopK(spark, sf, 3L, 10, "en", 200L)),
        ("compare", 0, () => VectorSearch.simMatrix(spark, sf, Seq(1L, 2L, 3L))),
        ("hybrid, free text", 2,
          () => TextRetrieval.hybridTopKFree(spark, sf, qv, text, 0.7, 10, None)),
        ("text", 1, () => VectorSearch.topKText(spark, sf, text, 10)),
        ("vec", 1, () => VectorSearch.topKVec(spark, sf, qv, 10)),
        ("ivf", 1, () => Ivf.ivfTopKVec(spark, sf, qv, 16, 4, 10)))
      val counts = shapes.map { case (name, bound, call) => (name, bound, warmCall(call)._2) }
      assert(counts.forall { case (_, bound, jobs) => jobs <= bound },
        counts.map { case (n, b, j) => s"$n: $j jobs, bound $b" }.mkString("\n"))
    } finally {
      spark.conf.unset("spark.graft.encoder.class")
      spark.conf.unset(CorpusLexicalEncoder.DirKey)
    }
  }

  test("array-membership filtered search keeps array_contains off the explode path") {
    val df = graft.operators.VectorSearch.tagFilteredTopK(spark, TestSpark.sf,
      queryId = 0, tag = "len:2", k = 10)
    val p = plan(df)
    // top-k bounded (no global sort) and no explode anywhere: the tag
    // filter is a per-row predicate over the derived array
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.toLowerCase.contains("generate"),
      "membership filter must not explode the tags array:\n" + p.take(1200))
  }

  test("ivfpq probe partition-prunes the composite index and reads only the codes") {
    val df = Quantized.ivfPqTopK(spark, TestSpark.sf, queryId = 0,
      nCells = 16, nprobe = 4, k = 10)
    val p = plan(df)
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]*(IN \\(|INSET )".r.findFirstIn(p).isDefined,
      "probe scan must carry literal cell-id partition filters:\n" + p.take(1500))
    // the composite index scan reads m-byte codes, never embeddings
    assert(p.contains("ivfpq_v3"), p.take(1200))
    assert(!p.contains("embedding:array<float>"),
      "ivfpq scan must not read the float corpus:\n" + p.take(1500))
  }

  test("batch IVF search partition-prunes the index scan to the probed cells") {
    val (cells, cents) = Ivf.ensureIndex(spark, TestSpark.sf, nCells = 16)
    import org.apache.spark.sql.functions.col
    val queries = cells.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val p = plan(Ivf.search(cells, cents, queries, nprobe = 4, k = 10))
    // a batch's probed-cell union can exceed the 10-value In→InSet
    // conversion threshold — both render a literal partition filter
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]*(IN \\(|INSET )".r.findFirstIn(p).isDefined,
      "batch probe must carry literal cell-id partition filters:\n" + p.take(1500))
  }

  test("filtered hybrid search pushes the metadata filters into the documents scan") {
    assertFiltersPushed(assertBlendShape("hybrid_filtered", maxJobs = 4))
    assertFiltersPushed(assertBlendShape("hybrid_filtered_free", maxJobs = 3))
  }

  test("random projection is a narrow map (no hash-partitioned shuffle)") {
    val p = plan(Quantized.randomProject(spark, TestSpark.sf))
    assert(!p.contains("Exchange hashpartitioning"),
      "projection must not shuffle by key:\n" + p.take(800))
    assert(p.contains("vecdot"), "components must run the codegen kernel")
  }

  test("pca projection is a narrow map once fitted (no hash-partitioned shuffle)") {
    val p = plan(Quantized.pcaProject(spark, TestSpark.sf))
    assert(!p.contains("Exchange hashpartitioning"),
      "projection must not shuffle by key:\n" + p.take(800))
    assert(p.contains("vecdot"), "components must run the codegen kernel")
  }

  test("length deciles never plan a partition-less (global-order) window") {
    val df = Curation.lengthDeciles(spark, TestSpark.sf)
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"global-order window found:\n${bad.mkString("\n")}")
  }

  test("bm25 reads document lengths by lookup (no join) and takes top-k without a full sort") {
    val df = graft.operators.TextRetrieval.bm25TopK(spark, TestSpark.sf,
      Seq("spark", "join", "vector"), k = 10)
    df.collect() // finalize the adaptive plan before asserting on it
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    // `dl` is a sorted per-model lookup, not a per-request join
    assert(!p.contains("Join") && p.contains("lookup(doc_id"), p.take(1500))
    // the query idf rows ride a map literal from the per-model idf memo,
    // and the postings scan reads only the query terms' rows
    assert(p.contains("In(term, [join,spark,vector])"), p.take(1500))
    // scoring reads the persisted sparse model, never re-tokenizes
    assert(!p.contains("documents.parquet"),
      "per-query bm25 must not rescan/re-tokenize the corpus:\n" + p.take(1500))
  }

  test("pii redaction is a narrow scan transform (no hash shuffle)") {
    val p = plan(graft.operators.TextAnalysis.piiRedact(spark, TestSpark.sf))
    assert(!p.contains("Exchange hashpartitioning"),
      "redaction must stream through the scan:\n" + p.take(800))
  }

  test("gopher rules are a narrow scan transform (no hash shuffle)") {
    val p = plan(graft.operators.TextAnalysis.gopherRules(spark, TestSpark.sf))
    assert(!p.contains("Exchange hashpartitioning"), p.take(800))
  }

  test("sequence packing never plans a partition-less (global-order) window") {
    val df = Curation.packSequences(spark, TestSpark.sf)
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"global-order window found:\n${bad.mkString("\n")}")
  }

  test("q6 pushes every predicate into the scan and prunes to the needed columns") {
    val p = plan(Analytics.q6Forecast(spark, TestSpark.sf))
    // the PushedFilters list is truncated in plan dumps — assert its
    // visible head, then the full predicate set on the Filter node
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(1500))
    assert("l_quantity#\\d+ < 24.0".r.findFirstIn(p).isDefined, p.take(1500))
    assert("l_discount#\\d+ >= 0.05".r.findFirstIn(p).isDefined, p.take(1500))
    // projection prunes: none of the untouched lineitem columns load
    assert(!p.contains("l_returnflag") && !p.contains("l_partkey"), p.take(1200))
  }

  test("mixture sampling needs one aggregation, no join, no window") {
    val p = plan(Curation.mixtureSample(spark, TestSpark.sf))
    assert(!p.contains("Join"), "the keep decision is a scan predicate:\n" + p.take(800))
    assert(!p.contains("Window"), p.take(800))
  }

  test("as-of join plans as union+window: no join, one user-keyed shuffle") {
    val p = plan(Analytics.eventsAsOf(spark, TestSpark.sf))
    assert(!p.contains("Join"), "as-of must never plan a join:\n" + p.take(800))
    val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(shuffles == 1, s"expected exactly one hash shuffle, got $shuffles:\n" + p.take(800))
  }

  test("phrase search pushes the term filter into the posting scan and broadcasts the phrase") {
    val p = plan(graft.operators.TextRetrieval.phraseSearch(spark, TestSpark.sf, "table table"))
    assert(p.contains("EqualTo(term,table)") || p.contains("In(term"),
      "phrase terms must reach the posting scan as pushed filters:\n" + p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("rrf legs reduce via TakeOrderedAndProject, never a corpus-wide sort") {
    val p = plan(graft.operators.TextRetrieval.rrfTopK(
      spark, TestSpark.sf, SparkEntry.demoQueryVec, Seq("spark", "join", "vector"), k = 10))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("rfm buckets assign via broadcast cutoffs, never an ntile window") {
    val df = Analytics.userRfm(spark, TestSpark.sf)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Window"), "rfm must not plan a global ntile window:\n" + p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("ordered funnel is two aggregates and a stack — no join, no window") {
    val df = Analytics.funnelOrdered(spark, TestSpark.sf)
    df.collect()
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty, "ordered funnel must not join")
    assert(!plan(df).contains("Window"))
  }

  test("label outliers broadcast the centroid table and score with the codegen kernel") {
    val df = VectorSearch.labelOutliers(spark, TestSpark.sf)
    df.collect() // finalize adaptive plan
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("vecdot"), "distance must ride the codegen VecDot kernel:\n" + p.take(800))
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("item co-occurrence ranks with WindowGroupLimit and never plans a global sort before it") {
    val df = Analytics.itemCooccurrence(spark, TestSpark.sf)
    df.collect()
    val p = plan(df)
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("event anomaly plans one frame-bounded window and a TakeOrdered top-N (no join)") {
    val df = Analytics.anomalies(spark, TestSpark.sf)
    df.collect()
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty, "anomaly scoring must be a window pass, not a join")
  }

  test("doc keywords rank with WindowGroupLimit over the persisted model (no re-tokenize)") {
    val df = graft.operators.TextRetrieval.docKeywords(spark, TestSpark.sf)
    df.collect() // finalize adaptive plan
    val p = plan(df)
    assert(p.contains("WindowGroupLimit"), p.take(800))
    assert(!p.contains("documents.parquet"),
      "keywords must read the model artifact, not re-tokenize the corpus:\n" + p.take(1200))
  }

  test("rolling aggregates keep a partitioned window and one user-keyed shuffle") {
    val df = Analytics.rolling(spark, TestSpark.sf)
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"global-order window found:\n${bad.mkString("\n")}")
    val p = plan(df)
    val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(shuffles == 1, s"expected one shuffle, got $shuffles:\n" + p.take(800))
  }

  test("cube expands grouping sets before the shuffle (map-side partial agg)") {
    val p = plan(Analytics.cubeByTypeHour(spark, TestSpark.sf))
    assert(p.contains("Expand"), p.take(800))
    val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(shuffles == 1, s"cube must aggregate in one shuffle, got $shuffles:\n" + p.take(800))
  }

  test("pivot with explicit values needs no distinct-values job and no join") {
    val df = Analytics.pivotUserCounts(spark, TestSpark.sf)
    val p = plan(df)
    // Spark's pivot is two aggregate stages (pre-agg by (user, type),
    // then pivotfirst by user) — the point of the EXPLICIT value list
    // is that no separate distinct-values collect job precedes them
    val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(shuffles <= 2, s"pivot grew beyond its two agg stages, got $shuffles:\n" + p.take(800))
    assert(!p.contains("Join"), p.take(800))
    assert(p.contains("pivotfirst"), p.take(800))
  }

  test("char entropy never shuffles and never explodes — replace-count narrow scan") {
    val df = graft.operators.TextAnalysis.charEntropy(spark, TestSpark.sf)
    val p = plan(df)
    assert(!p.contains("Exchange hashpartitioning"),
      "entropy must stream through the scan with no shuffle:\n" + p.take(800))
    assert(!p.contains("Generate"), "entropy must not explode per character:\n" + p.take(800))
  }

  test("trending items are one aggregate + TakeOrdered, decay via broadcast corpus-max") {
    val df = Analytics.itemTrending(spark, TestSpark.sf)
    df.collect()
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("Window"), p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("tag co-occurrence is narrow explodes + one aggregate + TakeOrdered") {
    val df = Analytics.tagCooccurrence(spark, TestSpark.sf)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(shuffles == 1, s"pair counting must aggregate in one shuffle, got $shuffles:\n" + p.take(800))
    assert(!p.contains("Join"), "pairs come from the array, not a corpus join:\n" + p.take(800))
  }

  test("boilerplate ngram detection is one aggregate + TakeOrdered, no join") {
    val df = graft.operators.Dedup.boilerplateNgrams(spark, TestSpark.sf)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("Join"), "df counting must not join:\n" + p.take(800))
    assert(!p.contains("Window"), p.take(800))
  }

  test("embedding norm stats are a narrow scan + one aggregate exchange") {
    val df = VectorSearch.embedNormStats(spark, TestSpark.sf)
    val p = plan(df)
    assert(!p.contains("Join"), p.take(800))
    assert(!p.contains("Window"), p.take(800))
    // one partial-agg shuffle on label + the final tiny-sort exchange
    val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(shuffles == 1, s"expected one agg shuffle, got $shuffles:\n" + p.take(800))
  }

  test("zipf fit windows only the bounded top-N, never the corpus") {
    val df = graft.operators.TextAnalysis.vocabZipf(spark, TestSpark.sf)
    df.collect()
    val p = plan(df)
    // the single-partition window is AFTER TakeOrdered cut the frame
    // to <= topN rows — the corpus-wide path sees only the term agg
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    val winIdx = p.indexOf("Window")
    val takeIdx = p.indexOf("TakeOrderedAndProject")
    assert(winIdx >= 0 && takeIdx > winIdx,
      "window must consume TakeOrdered's bounded output:\n" + p.take(1200))
  }

  test("bigram NLL probes and counts off the persisted triple artifact") {
    val df = graft.operators.TextAnalysis.bigramLogProb(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the (doc,w1,w2,tf12) triples are a build-once IndexStore
    // artifact (round 16): the bigram-count side and the probe side
    // both SCAN the persisted parquet instead of re-running the
    // tokenize+explode subtree — no Generate (explode) may appear
    // anywhere in the query plan
    val artifactScans = "bigram_v1".r.findAllMatchIn(p).size
    assert(artifactScans >= 2,
      s"both join sides must read the bigram artifact, got $artifactScans:\n" + p.take(800))
    assert(!p.contains("Generate"),
      "query-time plan must not re-tokenize the corpus:\n" + p.take(800))
  }

  test("range search sorts only the inside-radius rows, never the corpus") {
    val p = plan(VectorSearch.rangeSearch(spark, TestSpark.sf, 0, 0.25))
    // the radius predicate runs BELOW the sort, so the Sort ranks
    // result-sized input — never the corpus
    val lines = p.linesIterator.toSeq
    val sortIdx = lines.indexWhere(_.contains("Sort "))
    val predIdx = lines.indexWhere(_.contains(">= 0.25"))
    assert(sortIdx >= 0 && predIdx > sortIdx,
      s"radius predicate must run below the sort:\n${p.take(800)}")
    assert(!p.contains("Join") && !p.contains("BroadcastExchange"),
      s"no join: the query is a plan literal:\n${p.take(800)}")
  }

  test("item PMI ranks per item with WindowGroupLimit, not a global sort") {
    val p = plan(Analytics.itemPmi(spark, TestSpark.sf))
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("cluster quality assigns via plan literals — no join against centroids") {
    val df = Ivf.clusterQuality(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the k centroid rows ride as literals in the distance projection:
    // exactly one embeddings scan feeds one aggregate, no join at all
    assert(!p.contains("Join"), s"centroids must not join:\n${p.take(800)}")
  }

  test("boolean search pushes the must/mustNot term sets into the postings scans") {
    val p = plan(graft.operators.TextRetrieval.boolSearch(
      spark, TestSpark.sf, Seq("spark", "vector"), Seq("stream")))
    assert(p.contains("In(term, [spark,vector])") || p.contains("In(term, [vector,spark])"),
      s"must-term set must prune the postings scan:\n${p.take(1200)}")
    assert(p.contains("EqualTo(term,stream)") || p.contains("In(term, [stream])"),
      "mustNot term must prune its postings scan")
    assert(p.contains("TakeOrderedAndProject"), "final cut must be a bounded heap")
  }

  test("autocomplete pushes the prefix predicate into the artifact scan") {
    val p = plan(graft.operators.TextRetrieval.autocompletePrefix(spark, TestSpark.sf, "s"))
    assert(p.contains("StringStartsWith(term,s)"),
      s"prefix must reach the postings scan:\n${p.take(1200)}")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("diversified SERP caps per source via WindowGroupLimit then TakeOrders the page") {
    val p = plan(graft.operators.TextRetrieval.serpDiversified(
      spark, TestSpark.sf, Seq("spark", "join", "vector")))
    assert(p.contains("WindowGroupLimit"), "per-source cap must prune before the shuffle")
    assert(p.contains("TakeOrderedAndProject"), "global page cut must be a bounded heap")
  }

  test("ALS recs broadcast the catalog factors and rank under WindowGroupLimit") {
    val p = plan(graft.operators.Rec.recAlsTopK(spark, TestSpark.sf))
    assert(p.contains("WindowGroupLimit"), "per-user top-k must prune before the shuffle")
    assert(!p.contains("SortMergeJoin"),
      "the catalog-factor and anti joins must stay broadcast at this scale")
  }

  test("percolation broadcasts the subscription table (never shuffles the postings by sub)") {
    val p = plan(graft.operators.TextAnalysis.percolate(spark, TestSpark.sf))
    assert(p.contains("BroadcastHashJoin"), "subscriptions must ride as a broadcast")
  }

  test("point-in-time training set plans ONE events scan with user-partitioned frames") {
    val df = Analytics.pitTrainingSet(spark, TestSpark.sf)
    val p = plan(df)
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("events"))
    assert(scans == 1, s"the spine and both frames must share one scan, saw $scans")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("user_id")),
      "both RANGE frames must partition by user_id")
  }

  test("session co-occurrence ranks per item via WindowGroupLimit") {
    val p = plan(Analytics.itemCoocSession(spark, TestSpark.sf))
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("ALS fold-in restricts the re-solve to affected users via a LEFT SEMI join") {
    val p = plan(graft.operators.Rec.alsFoldIn(spark, TestSpark.sf))
    assert(p.contains("LeftSemi"),
      "the fold-in must semi-join the batch's users, never re-solve the corpus")
  }

  test("no query plans an unpartitioned window outside the documented bounded-frame folds") {
    // An unpartitioned window funnels its whole input into ONE task,
    // so it is allowed only where the windowed frame is provably
    // bounded. Structurally: its child is a literal-limit GlobalLimit
    // (a rank over a top-K cut, TopK.ranked), which needs no entry.
    // Otherwise by name: a histogram or rollup whose row count is
    // independent of corpus size (degree histograms, |weeks|/|days|/
    // |types| calendars). Every allowlisted query names its bounded
    // frame; adding a query here requires the same argument.
    val boundedFrameFolds = Set(
      "engagement_gini",      // (event-count, multiplicity) histogram
      "ui_matrix_stats",      // (item-degree, multiplicity) histogram
      "rec_coverage",         // (slot-count, multiplicity) histogram
      "events_survival",      // per-day gap/censor histogram (|days| rows)
      "events_daily_active",  // cumulative over the |days|-row calendar
      "vocab_heaps")          // two 16-row shard folds
    // every query is linted: one whose construction or planning throws
    // is listed (and fails the test) instead of hiding the queries
    // after it
    val linted = optimizedPlans.map { case (name, p) =>
      name -> p.map(unboundedGlobalWindows(_).nonEmpty)
    }
    val unplanned = linted.collect { case (name, scala.util.Failure(e)) =>
      s"$name (${String.valueOf(e).takeWhile(_ != '\n')})" }
    val undocumented = linted.collect { case (name, scala.util.Success(true)) => name }
      .filterNot(boundedFrameFolds)
    assert(undocumented.isEmpty && unplanned.isEmpty,
      s"unpartitioned windows outside the bounded-frame allowlist: ${undocumented.mkString(", ")}" +
        s"; queries that could not be planned: ${unplanned.mkString("; ")}")
  }

  test("the window lint rejects an unpartitioned window over an unbounded frame") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val e = graft.Tables.embeddings(spark, TestSpark.sf).select(col("vec_id"))
    val global = e.withColumn("rk", row_number().over(Window.orderBy(col("vec_id"))))
    assert(unboundedGlobalWindows(global.queryExecution.optimizedPlan).nonEmpty,
      "a corpus-wide unpartitioned window must fail the lint")
    // the same window over a literal-k cut passes
    val ranked = TopK.ranked(e.withColumn("score", col("vec_id") * 0.5), 10, "rk",
      TopK.byScore("vec_id"): _*)
    assert(unboundedGlobalWindows(ranked.queryExecution.optimizedPlan).isEmpty,
      "TopK.ranked's window sits on its literal-k limit")
  }

  test("text kernels split once per row and hash once per exploded row") {
    // Catalyst shares no subexpression into a lambda body, so a split
    // inside one re-tokenizes the whole document per element; Generate
    // does no subexpression elimination, so a digest repeated inside a
    // generator is recomputed per copy. Queries that cannot be planned
    // here are skipped: the window lint above already reports them.
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, Md5, StringSplit}
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val offenders = optimizedPlans.flatMap { case (name, plan) =>
      plan.toOption.toSeq.flatMap { p =>
        val splitInLambda = p.exists(_.expressions.exists(_.exists {
          case l: LambdaFunction => l.function.exists(_.isInstanceOf[StringSplit])
          case _ => false
        }))
        val md5s = p.collect { case g: Generate =>
          g.generator.collect { case m: Md5 => m }.size }.foldLeft(0)(math.max)
        Seq(s"$name: split inside a lambda body" -> splitInLambda,
          s"$name: $md5s md5 digests in one generator" -> (md5s > 1))
          .collect { case (msg, true) => msg }
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("a query that cannot be planned fails only by naming a missing reference artifact") {
    val named = s"reference artifact missing: ${graft.operators.ReferenceInterop.Root}/"
    def causes(e: Throwable): Seq[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).toSeq
    val other = optimizedPlans.collect {
      case (name, scala.util.Failure(e))
        if !causes(e).exists(c => String.valueOf(c.getMessage).startsWith(named)) =>
        s"$name (${String.valueOf(e).takeWhile(_ != '\n')})"
    }
    assert(other.isEmpty, other.mkString("; "))
  }
}
