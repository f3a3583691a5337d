package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.{CorpusLexicalEncoder, QueryEncoder}
import graft.operators.{Curation, Dedup, Ivf, TextAnalysis, TextRetrieval, VectorSearch}
import graft.sources.{DriverMemo, IndexStore, ScratchCache}
import graft.tools.GenData

/** One benchmark run in a fresh JVM: set up, run one workload for a
  * fixed wall time as a single closed-loop client, check every result,
  * and write `result.json` (metrics, attempted/failed, host facts) plus
  * `spans.jsonl` (traced runs) into the run directory.
  *
  * Usage: Main <runDir> <workload> <seconds> <trace 0|1> <setups> <warmup>
  *
  * `setups` counts the timed set-up passes, which follow one untimed
  * cold pass; `warmup` counts untimed requests (serve) or pipeline
  * passes (batch) before the measured window.
  *
  * `runDir/inputs.json` and `runDir/corpus/` come from gen.py; graft
  * receives nothing else.
  */
object Main {

  final case class Opts(runDir: String, workload: String, seconds: Double, trace: Boolean,
                        setups: Int, warmup: Int)

  def main(args: Array[String]): Unit = {
    val o = Opts(args(0), args(1), args(2).toDouble, args(3) == "1", args(4).toInt, args(5).toInt)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/warehouse")
      .config("spark.graft.index.root", s"${o.runDir}/index/boot")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val run = new Run(spark, o, cpus)
      val out = run.execute()
      Files.write(Paths.get(o.runDir, "result.json"), json.writeValueAsBytes(out))
      if (o.trace) Files.write(Paths.get(o.runDir, "spans.jsonl"), run.tracer.spansJsonl.getBytes(UTF_8))
    } finally spark.stop()
  }

  val json = new ObjectMapper()

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 on an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.length - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(g => dirBytes(g.getPath)).sum).getOrElse(0L)
  }
}

/** Per-request-type names, in the order the metrics are reported. */
object Types {
  val serve = Seq("text", "hybrid", "vec", "filtered", "item", "ivf", "compare")
  val stages = Seq("ensureModel", "ensureIndex", "exact", "minhashLsh", "decontaminate",
    "bloomDecontaminate", "docRepetition", "ngramCoverage", "curatePipeline", "knnJoin", "maintain")
  val artifactKinds = Seq("ivf", "tfidf", "lexenc", "shingles", "minhash_sig")
  val buildKinds = Seq("ivf", "tfidf", "lexenc")

  /** Every per-layer metric, in report order. A traced run reports all
    * of them; a layer the workload never enters reads 0. */
  val perLayer: Seq[String] =
    serve.flatMap(t => Seq(s"operators.construct_ms.$t", s"spark.construct_jobs.$t",
      s"catalyst.plan_ms.$t")) ++
    serve.flatMap(t => Seq(s"spark.exec_ms.$t", s"spark.exec_jobs.$t", s"spark.tasks.$t",
      s"scan.rows_per_result.$t")) ++
    Seq("IndexStore.fingerprint_ms", "IndexStore.files_listed", "IndexStore.open_ms.ivf",
      "IndexStore.open_ms.tfidf", "Tables.resolve_ms", "functions.encode_ms") ++
    buildKinds.map(k => s"IndexStore.build_ms.$k") ++
    Seq("tools.gendata_ms") ++
    Seq("stage_ms", "commit_ms", "tombstone_ms", "compact_ms", "epochs", "read_construct_ms",
      "read_exec_ms", "read_jobs").map(n => s"ingest.$n") ++
    stages.flatMap(s => Seq(s"batch.wall_ms.$s", s"batch.construct_ms.$s",
      s"batch.shuffle_write_bytes.$s", s"batch.spill_bytes.$s")) ++
    artifactKinds.map(k => s"IndexStore.artifact_bytes.$k") ++
    Seq("trace.overhead_ms")
}

final class Run(spark: SparkSession, o: Main.Opts, cpus: Int) {
  import Main._

  val tracer = new Tracer(spark, o.trace)
  private val inputs: JsonNode = json.readTree(new File(s"${o.runDir}/inputs.json"))
  private val k = inputs.get("k").asInt()
  private val nCells = inputs.get("ivf_cells").asInt()
  private val alpha = inputs.get("hybrid_alpha").asDouble()
  private val baseDir = s"${o.runDir}/${inputs.get("corpus_dir").asText()}"

  private var attempted = 0L
  private var failed = 0L
  private val failures = ArrayBuffer.empty[String]
  private val attemptedByType = mutable.LinkedHashMap.empty[String, Long]
  private val layer = mutable.LinkedHashMap(Types.perLayer.map(_ -> 0.0): _*)
  private val builds = mutable.Map.empty[String, ArrayBuffer[Double]]
  /** Record-only figures that are not benchmark metrics. */
  private val notes = mutable.LinkedHashMap.empty[String, Double]
  private val born = System.nanoTime()
  /** Wall-clock seconds since the runner started, at each run phase. */
  private val marks = mutable.LinkedHashMap.empty[String, Double]
  private def mark(phase: String): Unit = marks(phase) = ms(born, System.nanoTime()) / 1e3
  /** SHA-256 over every checked result, in order: two runs that execute
    * the same operations (a zero-second run executes only the fixed
    * warm-up set) must agree on it. */
  private val digest = java.security.MessageDigest.getInstance("SHA-256")
  private var digestOps = 0L
  private def fold(tag: String, rows: Array[Row]): Unit = {
    digest.update(tag.getBytes(UTF_8))
    rows.foreach(r => digest.update(r.mkString("|").getBytes(UTF_8)))
    digestOps += 1
  }
  /** Timed operations in order: (kind, traced, ms). */
  private val timeline = ArrayBuffer.empty[(String, Boolean, Double)]

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += what
  }

  private def attempt(kind: String): Unit = {
    attempted += 1
    attemptedByType(kind) = attemptedByType.getOrElse(kind, 0L) + 1
  }

  private def setRoot(name: String): String = {
    val root = s"${o.runDir}/index/$name"
    spark.conf.set("spark.graft.index.root", root)
    root
  }

  private def timeBuild[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    builds.getOrElseUpdate(kind, ArrayBuffer.empty) += ms(t0, System.nanoTime())
    r
  }

  /** One untimed cold pass (the JVM's and Spark's first-use costs),
    * then `o.setups` timed passes, each on a fresh index root. Returns
    * the median seconds of the timed passes, the last pass's result and
    * its root (the ones the workload then uses). */
  private def setups[T](pass: Int => T): (Double, T, String) = {
    var last: (T, String) = null
    def one(i: Int): Double = {
      val root = setRoot(s"setup-$i")
      val t0 = System.nanoTime()
      last = (pass(i), root)
      ms(t0, System.nanoTime()) / 1e3
    }
    one(0)
    builds.clear()
    val secs = (1 to o.setups).map(one)
    mark("setup")
    (median(secs), last._1, last._2)
  }

  private def servingArtifacts(dir: String): Unit = {
    spark.conf.set("spark.graft.encoder.class", "graft.functions.CorpusLexicalQueryEncoder")
    spark.conf.set(CorpusLexicalEncoder.DirKey, dir)
    timeBuild("lexenc")(CorpusLexicalEncoder.ensureLexicon(spark, dir))
    timeBuild("tfidf")(TextRetrieval.ensureModel(spark, dir))
    timeBuild("ivf")(Ivf.ensureIndex(spark, dir, nCells))
  }

  private def loadCorpus(dir: String): Corpus = {
    val rows = Tables.embeddings(spark, dir).select("vec_id", "embedding", "label")
      .orderBy("vec_id").collect()
    new Corpus(rows.map(_.getLong(0)), rows.map(_.getSeq[Float](1).toArray), rows.map(_.getInt(2)))
  }

  /** construct → plan → collect, each phase timed (and, when traced,
    * spanned and tagged). Returns the rows and the phase times in ms. */
  private def request(id: Long, kind: String, call: => DataFrame): (Array[Row], Double, Double, Double) = {
    val t0 = System.nanoTime()
    val df = tracer.span(id, "construct", "request")(call)
    val t1 = System.nanoTime()
    tracer.span(id, "plan", "request")(df.queryExecution.executedPlan)
    val t2 = System.nanoTime()
    val rows = tracer.span(id, "exec", "request")(df.collect())
    val t3 = System.nanoTime()
    tracer.record(id, "request", "", t0, t3)
    timeline += ((kind, tracer.isActive, ms(t0, t3)))
    (rows, ms(t0, t1), ms(t1, t2), ms(t2, t3))
  }

  private def facts(dir: String, root: String): java.util.Map[String, Any] = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val tables = Seq("documents", "embeddings").map { t =>
      t -> Map("rows" -> Tables.table(spark, dir, t).count(),
        "bytes" -> dirBytes(s"$dir/$t.parquet")).asJava
    }.toMap.asJava
    Map[String, Any](
      "nproc" -> cpus,
      "mem_total_bytes" -> os.getTotalMemorySize,
      "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "workload" -> o.workload,
      "seed" -> inputs.get("seed").asLong(),
      "scale" -> inputs.get("scale").asText(),
      "tile_copies" -> inputs.path("tile_copies").asInt(1),
      "tables" -> tables,
      "index_root_bytes" -> dirBytes(root)
    ).asJava
  }

  /** Bytes per artifact kind under the index root. Artifact dirs are
    * named kind_fingerprint_params (IndexStore.indexPath). */
  private def artifactBytes(root: String): Unit = {
    val byKind = Option(new File(root).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(_.isDirectory).map { f =>
        val parts = f.getName.split("_")
        val fp = parts.indexWhere(_.matches("[0-9a-f]{12}"))
        (if (fp > 0) parts.take(fp).mkString("_") else f.getName) -> dirBytes(f.getPath)
      }.groupMapReduce(_._1)(_._2)(_ + _)
    byKind.foreach { case (kind, b) => notes(s"artifact_bytes.$kind") = b.toDouble }
    Types.artifactKinds.foreach { kind =>
      layer(s"IndexStore.artifact_bytes.$kind") =
        byKind.collect { case (n, b) if n.startsWith(kind) => b }.sum.toDouble
    }
  }

  /** Warm direct calls into the layers every request leans on. */
  private def directProbes(dir: String): Unit = {
    def warm(reps: Int)(body: => Any): Double = {
      body
      median((1 to reps).map { _ =>
        val t0 = System.nanoTime(); body; ms(t0, System.nanoTime())
      })
    }
    val table = s"$dir/embeddings.parquet"
    layer("IndexStore.fingerprint_ms") = warm(30)(IndexStore.fingerprint(spark, table))
    layer("IndexStore.files_listed") = {
      val p = new org.apache.hadoop.fs.Path(table)
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      var n = 0; while (it.hasNext) { it.next(); n += 1 }; n.toDouble
    }
    layer("IndexStore.open_ms.ivf") = warm(30)(Ivf.ensureIndex(spark, dir, nCells))
    layer("IndexStore.open_ms.tfidf") = warm(30)(TextRetrieval.ensureModel(spark, dir))
    layer("Tables.resolve_ms") = warm(30)(Tables.embeddings(spark, dir))
    spark.conf.set("spark.graft.encoder.class", "graft.functions.CorpusLexicalQueryEncoder")
    spark.conf.set(CorpusLexicalEncoder.DirKey, dir)
    layer("functions.encode_ms") = warm(30)(QueryEncoder.required(spark).encode("spark vector join"))
  }

  def execute(): java.util.Map[String, Any] = {
    val (e2e, dir, root) = o.workload match {
      case "serve_small" => serve()
      case "curate_batch" => curate()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Types.buildKinds.foreach(kind =>
      layer(s"IndexStore.build_ms.$kind") = median(builds.getOrElse(kind, ArrayBuffer.empty).toSeq))
    layer("tools.gendata_ms") = median(builds.getOrElse("gendata", ArrayBuffer.empty).toSeq)
    artifactBytes(root)
    if (o.trace) directProbes(dir)
    Map[String, Any](
      "metrics" -> (if (o.trace) layer else e2e).asJava,
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.asJava,
      "attempted_by_type" -> attemptedByType.asJava,
      "generated_by_type" -> inputs.get("generated"),
      "result_digest" -> digest.digest().map("%02x".format(_)).mkString,
      "digest_ops" -> digestOps,
      "end_to_end" -> e2e.asJava,
      "marks" -> marks.asJava,
      "layer" -> layer.asJava,
      "notes" -> notes.asJava,
      "builds_ms" -> builds.map { case (k, v) => k -> v.asJava }.asJava,
      "timeline" -> timeline.map(x => Seq[Any](x._1, x._2, x._3).asJava).asJava,
      "facts" -> facts(dir, root)
    ).asJava
  }

  // -------------------------------------------------------------------
  // serve_small: the app's search mix, one closed-loop client
  // -------------------------------------------------------------------

  private def serve(): (mutable.LinkedHashMap[String, Double], String, String) = {
    val dir = baseDir
    val (setupS, _, root) = setups(_ => servingArtifacts(dir))
    val corpus = loadCorpus(dir)
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "n_chars").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val encoder = QueryEncoder.required(spark)
    val reqs = inputs.get("requests").elements().asScala.toIndexedSeq

    def floats(n: JsonNode): Array[Float] = n.elements().asScala.map(_.floatValue()).toArray
    def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong()).toSeq

    val lat = ArrayBuffer.empty[(String, Boolean, Double)] // (type, traced, ms)
    val perType = mutable.Map.empty[String, ArrayBuffer[(Double, Double, Double, Map[String, Work], Int)]]
    val recalls, streamRecalls = ArrayBuffer.empty[Double]
    val probeIds = 1000000L

    def one(r: JsonNode, timed: Boolean): Unit = {
      val id = r.get("id").asLong()
      val t = r.get("type").asText()
      attempt(t)
      try {
        val qid = Option(r.get("qid")).map(_.asLong())
        val (rows, c, p, e) = request(id, t, t match {
          case "text" => VectorSearch.topKText(spark, dir, r.get("text").asText(), k)
          case "hybrid" =>
            val text = r.get("text").asText()
            TextRetrieval.hybridTopKFree(spark, dir, encoder.encode(text), text, alpha, k, None)
          case "vec" => VectorSearch.topKVec(spark, dir, floats(r.get("qv")), k)
          case "filtered" if r.has("lang") =>
            VectorSearch.metaFilteredTopK(spark, dir, qid.get, k, r.get("lang").asText(),
              r.get("min_chars").asLong())
          case "filtered" =>
            VectorSearch.filteredTopK(spark, dir, qid.get, k, longs(r.get("labels")).map(_.toInt))
          case "item" => VectorSearch.topK(spark, dir, qid.get, k)
          case "ivf" => Ivf.ivfTopKVec(spark, dir, floats(r.get("qv")), nCells, r.get("nprobe").asInt(), k)
          case "compare" => VectorSearch.simMatrix(spark, dir, longs(r.get("ids")))
        })
        val work = tracer.collect(id)
        fold(s"$id/$t", rows)
        val err: Option[String] = t match {
          case "text" =>
            Check.exact("text", rows, corpus, encoder.encode(r.get("text").asText()), k, _ => true)
          case "hybrid" => Check.hybrid(rows, corpus, encoder.encode(r.get("text").asText()), alpha, k)
          case "vec" => Check.exact("vec", rows, corpus, floats(r.get("qv")), k, _ => true)
          case "filtered" =>
            val q = corpus.vec(qid.get)
            val keep: Int => Boolean =
              if (r.has("lang")) {
                val (lang, minChars) = (r.get("lang").asText(), r.get("min_chars").asLong())
                i => corpus.ids(i) != qid.get && docs.get(corpus.ids(i))
                  .exists { case (l, n) => l == lang && n >= minChars }
              } else {
                val labels = longs(r.get("labels")).map(_.toInt).toSet
                i => corpus.ids(i) != qid.get && labels(corpus.labels(i))
              }
            Check.exact("filtered", rows, corpus, q, k, keep)
          case "item" =>
            Check.exact("item", rows, corpus, corpus.vec(qid.get), k, i => corpus.ids(i) != qid.get)
          case "ivf" =>
            val q = floats(r.get("qv"))
            val (bad, ids) = Check.ivf(rows, corpus, q, k)
            val rc = Check.recall(ids, Check.topK(corpus, q, k, _ => true))
            if (id >= probeIds) recalls += rc else streamRecalls += rc
            bad
          case "compare" => Check.compare(rows, corpus, longs(r.get("ids")))
        }
        err match {
          case Some(m) => fail(s"req $id ($t): $m")
          case None if timed =>
            lat += ((t, tracer.isActive, c + p + e))
            perType.getOrElseUpdate(t, ArrayBuffer.empty) += ((c, p, e, work, rows.length))
          case None =>
        }
      } catch { case ex: Exception => fail(s"req $id ($t): ${ex.toString.take(300)}") }
    }

    // warm-up: the fixed IVF recall probes, then the head of the stream
    inputs.get("recall_probes").elements().asScala.foreach(one(_, timed = false))
    val warm = math.min(o.warmup, reqs.length)
    reqs.take(warm).foreach(one(_, timed = false))
    mark("warmup")
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = warm
    // measure whole 20-request blocks (the generator's exact mix), so
    // every run weighs the request types the same; traced runs
    // alternate blocks between tracing on and off
    while ((System.nanoTime() < deadline || (i - warm) % 20 != 0 || (o.trace && i - warm < 40))
        && i < reqs.length) {
      tracer.setActive(((i - warm) / 20) % 2 == 0)
      one(reqs(i), timed = true)
      i += 1
    }
    tracer.setActive(false)
    mark("measure")
    require(i < reqs.length, "request stream exhausted before the deadline")

    val all = lat.map(_._3).toSeq
    // the mix is multimodal (a 100 ms vector scan next to a 700 ms
    // hybrid), so the pooled median jumps between type clusters; the
    // reported p50 is each type's median weighted by its mix share
    val byType = lat.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._3).toSeq }
    byType.foreach { case (t, xs) =>
      notes(s"p50_ms.$t") = median(xs); notes(s"p90_ms.$t") = quantile(xs, 0.9)
    }
    notes("p50_ms.pooled") = median(all)
    notes("p90_ms.pooled") = quantile(all, 0.9)
    val e2e = mutable.LinkedHashMap(
      "setup_s" -> setupS,
      "p50_ms" -> byType.values.map(xs => median(xs) * xs.size).sum / math.max(1, all.size),
      "ops_per_s" -> (if (all.isEmpty) 0.0 else all.length / (all.sum / 1e3)),
      "recall" -> mean(recalls.toSeq),
      "artifact_bytes_ratio" -> dirBytes(root).toDouble /
        (dirBytes(s"$dir/documents.parquet") + dirBytes(s"$dir/embeddings.parquet")))
    if (o.trace) {
      Types.serve.foreach { t =>
        val xs = perType.getOrElse(t, ArrayBuffer.empty).filter(_._4.nonEmpty).toSeq
        def phase(p: String)(f: Work => Double) = mean(xs.map(x => x._4.get(p).map(f).getOrElse(0.0)))
        layer(s"operators.construct_ms.$t") = median(xs.map(_._1))
        layer(s"spark.construct_jobs.$t") = phase("construct")(_.jobs)
        layer(s"catalyst.plan_ms.$t") = median(xs.map(_._2))
        layer(s"spark.exec_ms.$t") = median(xs.map(_._3))
        layer(s"spark.exec_jobs.$t") = phase("exec")(_.jobs)
        layer(s"spark.tasks.$t") = mean(xs.map(_._4.values.map(_.tasks).sum.toDouble))
        layer(s"scan.rows_per_result.$t") =
          mean(xs.map(x => x._4.get("_scan").map(_.scanRows).getOrElse(0L).toDouble / math.max(1, x._5)))
      }
      // per-type traced/untraced p50 gap, weighted by the type's share
      layer("trace.overhead_ms") = lat.groupBy(_._1).values.map { xs =>
        val (on, off) = xs.partition(_._2)
        if (on.isEmpty || off.isEmpty) 0.0
        else (median(on.map(_._3).toSeq) - median(off.map(_._3).toSeq)) * xs.size / lat.size
      }.sum
    }
    notes("stream_ivf_recall") = mean(streamRecalls.toSeq)
    (e2e, dir, root)
  }

  // -------------------------------------------------------------------
  // curate_batch: the cold nightly pipeline, every stage materialised
  // -------------------------------------------------------------------

  private def curate(): (mutable.LinkedHashMap[String, Double], String, String) = {
    val truth = inputs.get("truth")
    val exactCopies = truth.get("exact").elements().asScala.map(_.get(1).asLong()).toSeq
    val near = truth.get("near").elements().asScala.map(p =>
      (p.get("a_id").asLong(), p.get("b_id").asLong()) -> p.get("jaccard").asDouble()).toMap
    // set-up: tile the generated corpus with GenData (uniform) into a
    // fresh directory and resolve its tables; the batch runs on the
    // last pass's tiling
    val copies = inputs.get("tile_copies").asInt()
    val (setupS, dir, _) = setups { i =>
      val d = s"${o.runDir}/tiled-$i"
      timeBuild("gendata")(
        GenData.generate(spark, baseDir, d, copies, false, Some(Set("documents", "embeddings"))))
      Tables.documents(spark, d)
      Tables.embeddings(spark, d)
      d
    }
    val nDocs = Tables.documents(spark, dir).count()

    // index maintenance inputs (FAISS add / remove_ids on the pass's IVF
    // index): per cycle a batch to append, the appended vector to read
    // back, an existing id to tombstone
    val base = loadCorpus(dir)
    val cycles = inputs.get("cycles").elements().asScala.toIndexedSeq
    val schema = StructType(Seq(StructField("vec_id", LongType), StructField("label", IntegerType),
      StructField("embedding", ArrayType(FloatType))))
    val ingest = mutable.Map.empty[String, ArrayBuffer[Double]] // traced samples per ingest.* metric
    def sample(name: String, v: Double): Unit =
      if (tracer.isActive) ingest.getOrElseUpdate(name, ArrayBuffer.empty) += v

    /** Append, read back (rank 1), tombstone, read (absent) per cycle,
      * then compact; every read is an exhaustive IVF search checked
      * against the live set. */
    def maintain(p: Int): Unit = {
      val path = Ivf.indexPath(spark, dir, nCells)
      val live = mutable.LinkedHashMap(base.ids.indices.map(i =>
        base.ids(i) -> (base.vecs(i), base.labels(i))): _*)
      def call(name: String, p: Int)(body: => Unit): Unit = {
        attempt(name)
        val t0 = System.nanoTime()
        try {
          tracer.span(p, name, "maintain")(body)
          sample(s"${name}_ms", ms(t0, System.nanoTime()))
        } catch { case ex: Exception => fail(s"$name pass $p: ${ex.toString.take(300)}") }
      }
      def read(id: Long, q: Array[Float])(ok: Seq[Long] => Option[String]): Unit = {
        attempt("read_after_write")
        try {
          val (rows, c, _, e) = request(id, "read_after_write",
            Ivf.ivfTopKVec(spark, dir, q, nCells, nCells, k))
          val work = tracer.collect(id)
          fold(s"read/$id", rows)
          sample("read_construct_ms", c)
          sample("read_exec_ms", e)
          sample("read_jobs", work.values.map(_.jobs).sum.toDouble)
          sample("epochs", Option(new File(s"$path/cells").listFiles()).getOrElse(Array.empty[File])
            .count(_.getName.startsWith("epoch=")).toDouble)
          val es = live.toSeq
          val snap = new Corpus(es.map(_._1).toArray, es.map(_._2._1).toArray, es.map(_._2._2).toArray)
          val (bad, ids) = Check.ivf(rows, snap, q, k)
          bad.orElse(ok(ids)).foreach(m => fail(s"read $id: $m"))
        } catch { case ex: Exception => fail(s"read $id: ${ex.toString.take(300)}") }
      }
      cycles.zipWithIndex.foreach { case (cy, n) =>
        val batch = cy.get("batch").elements().asScala.toSeq.map { v =>
          (v.get("vec_id").asLong(), v.get("label").asInt(),
            v.get("embedding").elements().asScala.map(_.floatValue()).toArray)
        }
        val frame = spark.createDataFrame(
          batch.map { case (id, l, e) => Row(id, l, e.toSeq) }.asJava, schema)
        if (tracer.isActive) {
          // the traced pass splits the append into its two phases
          var staging = ""
          call("stage", p) { staging = Ivf.stageAppend(spark, path, frame) }
          call("commit", p)(Ivf.commitAppend(spark, path, staging))
        } else call("append", p)(Ivf.appendToIndex(spark, path, frame))
        batch.foreach { case (id, l, e) => live(id) = (e, l) }
        val (probeId, _, probeVec) = batch(cy.get("probe").asInt())
        val readId = 1000000L * p + 2 * n
        read(readId, probeVec) { ids =>
          if (ids.headOption.contains(probeId)) None else Some(s"appended $probeId not at rank 1: $ids")
        }
        val victim = cy.get("victim").asLong()
        val victimVec = live(victim)._1
        call("tombstone", p)(IndexStore.addTombstones(spark, path, Seq(victim)))
        live.remove(victim)
        read(readId + 1, victimVec) { ids =>
          if (ids.contains(victim)) Some(s"tombstoned $victim still returned") else None
        }
      }
      call("compact", p)(Ivf.compactIndex(spark, dir, nCells))
    }

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val stageMs = mutable.Map.empty[String, ArrayBuffer[(Double, Double, Map[String, Work])]]
    val passes = ArrayBuffer.empty[(Boolean, Double)]
    val recalls = ArrayBuffer.empty[Double]
    var root = ""

    def pass(p: Int): Unit = {
      root = setRoot(s"pass-$p")
      // cold: no in-memory memo may carry over from the previous pass
      Dedup.clearCaches(spark)
      ScratchCache.clear()
      DriverMemo.clear()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      def stage(name: String)(build: => Any)(finish: Any => Option[String]): Unit = {
        attempt(name)
        try {
          val s0 = System.nanoTime()
          val made = tracer.span(p, s"$name.construct", "pass")(build)
          val s1 = System.nanoTime()
          val err = tracer.span(p, s"$name.exec", "pass")(finish(made))
          val s2 = System.nanoTime()
          val work = tracer.collect(p)
          err.foreach(m => fail(s"$name pass $p: $m"))
          stageMs.getOrElseUpdate(name, ArrayBuffer.empty) += ((ms(s0, s2), ms(s0, s1), work))
        } catch { case ex: Exception => fail(s"$name pass $p: ${ex.toString.take(300)}") }
      }
      val materialise: Any => Option[String] = {
        case df: DataFrame => noop(df); None
        case _ => None
      }
      stage("ensureModel")(TextRetrieval.ensureModel(spark, dir))(materialise)
      stage("ensureIndex")(Ivf.ensureIndex(spark, dir, nCells))(materialise)
      stage("exact")(Dedup.exact(spark, dir)) { df =>
        val rows = df.asInstanceOf[DataFrame].collect()
        fold("exact", rows)
        val dup = rows.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
        exactCopies.find(id => !dup.getOrElse(id, false)).map(id => s"injected copy $id not flagged")
      }
      stage("minhashLsh")(Dedup.minhashLsh(spark, dir)) { df =>
        val rows = df.asInstanceOf[DataFrame].collect()
        fold("minhashLsh", rows)
        val got = rows
          .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))) ->
            r.getDouble(3)).toMap
        recalls += near.keys.count(got.contains).toDouble / math.max(1, near.size)
        near.collectFirst {
          case (pair, j) if got.get(pair).exists(g => math.abs(g - j) > 1e-5) =>
            s"pair $pair jaccard ${got(pair)} != $j"
        }
      }
      stage("decontaminate")(Dedup.decontaminate(spark, dir))(materialise)
      stage("bloomDecontaminate")(Dedup.bloomDecontaminate(spark, dir))(materialise)
      stage("docRepetition")(TextAnalysis.docRepetition(spark, dir))(materialise)
      stage("ngramCoverage")(TextAnalysis.ngramCoverage(spark, dir))(materialise)
      stage("curatePipeline")(Curation.curatePipeline(spark, dir))(materialise)
      stage("knnJoin")(VectorSearch.knnJoin(spark, dir, 100, k))(materialise)
      stage("maintain")(maintain(p))(materialise)
      passes += ((tracer.isActive, ms(t0, System.nanoTime())))
      timeline += (("pass", tracer.isActive, passes.last._2))
    }

    // a traced run times a traced and then an untraced pass after one
    // warm-up pass, so neither carries the JVM's cold start
    val warm = o.warmup + (if (o.trace) 1 else 0)
    (1 to warm).foreach(pass)
    stageMs.clear(); passes.clear(); recalls.clear()
    mark("warmup")
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var p = warm + 1
    while (if (o.trace) passes.size < 2 else System.nanoTime() < deadline || passes.isEmpty) {
      tracer.setActive(o.trace && passes.isEmpty)
      pass(p)
      p += 1
    }
    tracer.setActive(false)
    mark("measure")

    val walls = passes.map(_._2).toSeq
    val e2e = mutable.LinkedHashMap(
      "setup_s" -> setupS,
      "p50_ms" -> median(walls),
      "ops_per_s" -> nDocs / (median(walls) / 1e3),
      "recall" -> mean(recalls.toSeq),
      "artifact_bytes_ratio" -> dirBytes(root).toDouble /
        (dirBytes(s"$dir/documents.parquet") + dirBytes(s"$dir/embeddings.parquet")))
    if (o.trace) {
      Types.stages.foreach { s =>
        val xs = stageMs.getOrElse(s, ArrayBuffer.empty).filter(_._3.nonEmpty).toSeq
        def sum(f: Work => Long) = mean(xs.map(_._3.values.map(f).sum.toDouble))
        layer(s"batch.wall_ms.$s") = median(xs.map(_._1))
        layer(s"batch.construct_ms.$s") = median(xs.map(_._2))
        layer(s"batch.shuffle_write_bytes.$s") = sum(_.shuffleWriteBytes)
        layer(s"batch.spill_bytes.$s") = sum(_.spillBytes)
      }
      Seq("stage_ms", "commit_ms", "tombstone_ms", "compact_ms", "read_construct_ms",
        "read_exec_ms").foreach(n => layer(s"ingest.$n") = median(ingest.getOrElse(n, ArrayBuffer.empty).toSeq))
      Seq("epochs", "read_jobs").foreach(n =>
        layer(s"ingest.$n") = mean(ingest.getOrElse(n, ArrayBuffer.empty).toSeq))
      layer("trace.overhead_ms") = passes(0)._2 - passes(1)._2
    }
    (e2e, dir, root)
  }
}
