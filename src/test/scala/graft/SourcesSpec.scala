package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ReferenceInterop
import graft.sources.Sources

/** Deterministic stand-in for a real embedding model — resolved by
  * class name through spark.graft.encoder.class (needs the no-arg
  * constructor the QueryEncoder contract requires).
  */
class FakeQueryEncoder extends graft.functions.QueryEncoder {
  override def encode(text: String): Array[Float] = SparkEntry.demoQueryVec
}

/** ONNX-shaped stub: the lifecycle a real inference-runtime encoder
  * has — a no-arg constructor that "loads a model" (here: resolves a
  * model id the way an ONNX session resolves its file path, from an
  * external property) and a deterministic per-token encode over a
  * fixed hidden width. The day real weights exist, only the conf line
  * changes — this spec is the contract keeping that swap honest.
  */
class OnnxShapedStubEncoder extends graft.functions.QueryEncoder {
  private val modelId: String =
    sys.props.getOrElse("graft.test.onnx.model", "stub-minilm-l6")
  // output width is model configuration (a real MiniLM emits 384; the
  // engine corpus is 64) — resolved per encode like a session option
  private def hidden: Int =
    sys.props.getOrElse("graft.test.onnx.dim", "64").toInt
  override def encode(text: String): Array[Float] = {
    // mean-pool of per-token pseudo-embeddings, the MiniLM output shape
    val toks = text.toLowerCase.split("\\W+").filter(_.length >= 2)
    val out = new Array[Float](hidden)
    toks.foreach { t =>
      var h = (modelId + ":" + t).hashCode
      var i = 0
      while (i < hidden) {
        h = h * 31 + i
        out(i) += (h % 1000) / 1000.0f
        i += 1
      }
    }
    if (toks.nonEmpty) out.indices.foreach(i => out(i) /= toks.length)
    out
  }
}

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("csv round-trip preserves documents exactly (quotes, commas)") {
    val dir = Files.createTempDirectory("graft-csv").toString
    val docs = Tables.documents(spark, TestSpark.sf)
    Sources.writeCsv(docs, s"$dir/docs")
    val back = Sources.readCsv(spark, s"$dir/docs", docs.schema)
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("jsonl round-trip preserves events columns") {
    val dir = Files.createTempDirectory("graft-jsonl").toString
    val ev = Tables.events(spark, TestSpark.sf)
      .select("event_id", "user_id", "event_type", "value", "ts_ms")
    Sources.writeJsonl(ev, s"$dir/ev")
    val back = Sources.readJsonl(spark, s"$dir/ev", ev.schema)
    assert(back.count() == ev.count())
    assert(back.exceptAll(ev).isEmpty)
  }

  test("orc round-trip preserves documents and pushes filters") {
    val dir = Files.createTempDirectory("graft-orc").toString
    val docs = Tables.documents(spark, TestSpark.sf)
    Sources.writeOrc(docs, s"$dir/docs")
    val back = Sources.readOrc(spark, s"$dir/docs")
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
    val filtered = back.where(col("n_chars") >= 500L)
    val p = filtered.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("n_chars"), p.take(600))
  }

  test("partitioned parquet sink prunes partitions on read") {
    val dir = Files.createTempDirectory("graft-part").toString
    Sources.writePartitioned(Tables.documents(spark, TestSpark.sf), s"$dir/docs", Seq("lang"))
    val en = Sources.readParquet(spark, s"$dir/docs").where(col("lang") === "en")
    val plan = en.queryExecution.executedPlan.toString
    assert(en.count() > 0)
    // partition filter must reach the scan, not a post-filter
    assert(plan.contains("PartitionFilters") && plan.contains("lang"))
  }

  test("bucketed tables join without a shuffle") {
    Sources.writeBucketed(Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "lang", "n_chars"), "docs_b", "doc_id", 4)
    Sources.writeBucketed(Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "label"), "emb_b", "vec_id", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the exchange (or its absence) is visible
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("docs_b")
        .join(spark.table("emb_b"), col("doc_id") === col("vec_id"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${plan.take(800)}")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS docs_b")
      spark.sql("DROP TABLE IF EXISTS emb_b")
    }
  }

  test("salted join returns exactly the plain join's rows") {
    import graft.operators.Skew
    val ev = Tables.events(spark, TestSpark.sf).select("event_id", "user_id", "value")
    val users = Tables.events(spark, TestSpark.sf)
      .groupBy("user_id").count().withColumnRenamed("user_id", "uid")
    val salted = Skew.saltedJoin(ev, users, "user_id", "uid", 8)
      .select("event_id", "uid", "count")
    val plain = ev.join(users, col("user_id") === col("uid"))
      .select("event_id", "uid", "count")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("racing first-builds publish exactly one complete index (atomic rename)") {
    import graft.operators.Lsh
    import graft.sources.IndexStore
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val tmpRoot = Files.createTempDirectory("graft-race").toString
    val prev = spark.conf.get("spark.graft.index.root", "target/graft-index")
    spark.conf.set("spark.graft.index.root", tmpRoot)
    try {
      val builds = Seq.fill(2)(Future {
        Lsh.ensureIndex(spark, TestSpark.sf, nBits = 8).count()
      })
      val counts = Await.result(Future.sequence(builds), 5.minutes)
      val n = Tables.embeddings(spark, TestSpark.sf).count()
      // both racers read a COMPLETE artifact (full corpus, never a
      // half-written overwrite)
      assert(counts == Seq(n, n), counts.toString)
      val entries = new java.io.File(tmpRoot).listFiles.map(_.getName).toSeq
      assert(entries.count(_.startsWith("lsh_v2")) == 1, entries.mkString(","))
      assert(!entries.exists(_.contains(".tmp-")),
        s"loser's staging dir must be cleaned up: $entries")
      IndexStore.invalidate(spark,
        entries.find(_.startsWith("lsh_v2")).map(e => s"$tmpRoot/$e").get)
    } finally spark.conf.set("spark.graft.index.root", prev)
  }

  test("query encoder seam: a configured fake encoder drives raw-text search end-to-end") {
    import graft.operators.VectorSearch
    // no encoder configured → hard error naming the conf key
    spark.conf.unset("spark.graft.encoder.class")
    val err = intercept[IllegalStateException] {
      VectorSearch.topKText(spark, TestSpark.sf, "any query", k = 5)
    }
    assert(err.getMessage.contains("spark.graft.encoder.class"))
    // wire the fake: raw text must flow encoder → vector → topKVec
    spark.conf.set("spark.graft.encoder.class", classOf[FakeQueryEncoder].getName)
    try {
      val viaText = VectorSearch.topKText(spark, TestSpark.sf, "any query", k = 5)
        .collect().map(_.toSeq).toSeq
      val viaVec = VectorSearch.topKVec(spark, TestSpark.sf, SparkEntry.demoQueryVec, k = 5)
        .collect().map(_.toSeq).toSeq
      assert(viaText == viaVec && viaText.nonEmpty,
        "text front door must equal topKVec on the encoder's vector")
    } finally spark.conf.unset("spark.graft.encoder.class")
  }

  test("encoder seam stays warm: an ONNX-shaped external encoder drops in as one config line") {
    import graft.operators.VectorSearch
    spark.conf.set("spark.graft.encoder.class", classOf[OnnxShapedStubEncoder].getName)
    try {
      val query = "kindle tablet battery"
      // the engine-corpus front door routes through the configured class
      val viaSeam = VectorSearch.topKText(spark, TestSpark.sf, query, k = 5)
        .collect().map(_.toSeq).toSeq
      val qv = new OnnxShapedStubEncoder().encode(query)
      val direct = VectorSearch.topKVec(spark, TestSpark.sf, qv, k = 5)
        .collect().map(_.toSeq).toSeq
      assert(viaSeam == direct && viaSeam.nonEmpty,
        "config-resolved encoder must flow through topKText unchanged")
      // and the reference-artifact free-text shape (vs_topk_reference_text's
      // plan: encoder output → topKVecOf over the real 384-dim npy corpus)
      // serves the same seam-resolved vector — the swap is config, not code
      sys.props("graft.test.onnx.dim") = "384"
      try {
        val corpus = graft.sources.NpySource.readNpy(
          spark, ReferenceInterop.ProductsNpy)
        val refQv = graft.functions.QueryEncoder.required(spark).encode(query)
        assert(refQv.length == 384, "model-config width must reach the seam")
        val a = VectorSearch.topKVecOf(corpus, refQv, 10).collect()
        val b = VectorSearch.topKVecOf(corpus,
          new OnnxShapedStubEncoder().encode(query), 10).collect()
        assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq && a.length == 10,
          "reference free-text shape must serve the seam-resolved vector")
        // real scores, not the null a width-mismatched encoder would produce
        assert(a.forall(r => !r.isNullAt(1)))
      } finally sys.props.remove("graft.test.onnx.dim")
    } finally spark.conf.unset("spark.graft.encoder.class")
  }

  test("ONNX encoder: a generated ModelProto file drives raw-text search through the seam") {
    import graft.functions.{OnnxQueryEncoder, QueryEncoder}
    import graft.operators.VectorSearch
    import graft.sources.OnnxModel
    val dim = 64
    val vocab = Seq("kindle", "tablet", "battery", "paperwhite", "charger", "case")
    // deterministic pseudo-random weights (hash-derived, no RNG state)
    def w(tag: String, i: Int): Float = (((tag + ":" + i).hashCode % 1000) / 1000.0f)
    val embTable = Array.tabulate(vocab.length * dim)(i => w("emb", i))
    val dense = Array.tabulate(dim * dim)(i => if (i % (dim + 1) == 0) 1.0f else w("w", i) * 0.01f)
    val bias = Array.tabulate(dim)(i => w("b", i) * 0.1f)
    val tmp = Files.createTempDirectory("graft-onnx").toString
    val modelPath = s"$tmp/encoder.onnx"
    val vocabPath = s"$tmp/vocab.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(vocabPath),
      vocab.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(modelPath),
      OnnxProtoWriter.encoderModel(vocab.length, dim, embTable, dense, bias))

    // 1. the interpreter reproduces a hand-computed forward pass
    val g = OnnxModel.load(modelPath)
    val ids = Array(0f, 2f) // kindle, battery
    val got = OnnxModel.run(g, Map("ids" -> OnnxModel.Tensor(Array(2), ids))).data
    val pooled = Array.tabulate(dim) { j =>
      var s = 0.0f; ids.foreach(t => s += embTable(t.toInt * dim + j)); s / ids.length
    }
    val act = Array.tabulate(dim) { j =>
      var s = 0.0f
      for (p <- 0 until dim) s += pooled(p) * dense(p * dim + j)
      math.tanh(s + bias(j)).toFloat
    }
    var ss = 0.0f; act.foreach(x => ss += x * x)
    val exp = act.map(x => x / math.sqrt(ss).toFloat)
    assert(got.length == dim && got.sameElements(exp),
      "interpreter must replay the hand-computed pass bit-for-bit")

    // 2. the seam: config-resolved ONNX encoder drives topKText
    spark.conf.set("spark.graft.encoder.class", classOf[OnnxQueryEncoder].getName)
    spark.conf.set(OnnxQueryEncoder.PathKey, modelPath)
    spark.conf.set(OnnxQueryEncoder.VocabKey, vocabPath)
    try {
      val query = "kindle tablet battery"
      val viaSeam = VectorSearch.topKText(spark, TestSpark.sf, query, k = 5)
        .collect().map(_.toSeq).toSeq
      val qv = QueryEncoder.required(spark).encode(query)
      assert(qv.length == dim)
      val direct = VectorSearch.topKVec(spark, TestSpark.sf, qv, k = 5)
        .collect().map(_.toSeq).toSeq
      assert(viaSeam == direct && viaSeam.nonEmpty,
        "ONNX-encoded raw text must flow through topKText unchanged")
      // OOV-only queries are a hard error, never a silent zero vector
      val err = intercept[IllegalArgumentException] {
        QueryEncoder.required(spark).encode("zz9xq qq8zx")
      }
      assert(err.getMessage.contains("no in-vocabulary tokens"))
    } finally {
      spark.conf.unset("spark.graft.encoder.class")
      spark.conf.unset(OnnxQueryEncoder.PathKey)
      spark.conf.unset(OnnxQueryEncoder.VocabKey)
    }

    // 3. ops outside the subset fail fast, named (LSTM: a real ONNX op
    // no encoder in scope uses — LayerNormalization graduated INTO the
    // subset with the attention extension)
    val badPath = s"$tmp/recurrent.onnx"
    java.nio.file.Files.write(java.nio.file.Paths.get(badPath),
      OnnxProtoWriter.unsupportedOpModel("LSTM"))
    val bad = OnnxModel.load(badPath)
    val e2 = intercept[IllegalArgumentException] {
      OnnxModel.run(bad, Map("ids" -> OnnxModel.Tensor(Array(1), Array(0f))))
    }
    assert(e2.getMessage.contains("LSTM"))
  }

  test("ONNX output binding: results align to non-empty declared names; unbound optional outputs fail naming their producer") {
    import graft.sources.OnnxModel
    import graft.sources.OnnxModel.{Graph, Node, Tensor}
    val x = Tensor(Array(2), Array(1f, 2f))
    // a leading EMPTY optional slot: the single computed result must
    // bind to 'y', not silently to the empty slot
    val g1 = Graph(Seq(Node("Identity", Seq("x"), Seq("", "y"), Map.empty)),
      Map.empty, Seq("x"), Seq("y"))
    assert(OnnxModel.run(g1, Map("x" -> x)).data.sameElements(x.data))
    // declared optional TRAILING outputs beyond the computed results
    // (the LayerNormalization mean/inv-std shape) must not fail the op
    // itself; a later read of the unbound name fails naming its producer
    val g2 = Graph(Seq(
        Node("Identity", Seq("x"), Seq("y", "extra_stat"), Map.empty),
        Node("Identity", Seq("extra_stat"), Seq("z"), Map.empty)),
      Map.empty, Seq("x"), Seq("z"))
    val e = intercept[IllegalArgumentException] { OnnxModel.run(g2, Map("x" -> x)) }
    assert(e.getMessage.contains("extra_stat") &&
      e.getMessage.contains("optional output"), e.getMessage)
    // a graph that never reads the unbound slot runs fine
    val g3 = Graph(Seq(Node("Identity", Seq("x"), Seq("y", "stat"), Map.empty)),
      Map.empty, Seq("x"), Seq("y"))
    assert(OnnxModel.run(g3, Map("x" -> x)).data.sameElements(x.data))
  }

  test("WordPiece: greedy longest-match tokenization drives the attention seam end-to-end") {
    import graft.functions.{OnnxQueryEncoder, QueryEncoder, WordPiece}
    import graft.operators.VectorSearch
    import graft.sources.OnnxModel
    val (dim, heads, ff, smax) = (64, 4, 32, 16)
    val vocab = Seq("[CLS]", "[SEP]", "[UNK]", "kindle", "paper", "##white",
      "battery", "charg", "##er", "case", "tablet")
    val vmap = vocab.zipWithIndex.toMap
    // hand-tokenized parity: longest-match-first with ## continuations,
    // punctuation split out, an unmatchable word collapses to [UNK]
    assert(WordPiece.tokenize("Kindle paperwhite charger", vmap) ==
      Seq("kindle", "paper", "##white", "charg", "##er"))
    assert(WordPiece.tokenize("paperwhite, zzz", vmap) ==
      Seq("paper", "##white", "[UNK]", "[UNK]"))
    // a real MiniLM-class vocab ships [CLS]/[SEP]/[UNK] and ## pieces —
    // the regex tokenizer can never produce these ids; the seam must
    val inits: Map[String, (Seq[Long], Array[Float])] = {
      def w(tag: String, i: Int): Float = (((tag + ":" + i).hashCode % 1000) / 2000.0f)
      def arr(tag: String, n: Int): Array[Float] = Array.tabulate(n)(i => w(tag, i))
      def eye(tag: String, n: Int): Array[Float] =
        Array.tabulate(n * n)(i => if (i % (n + 1) == 0) 1.0f else w(tag, i) * 0.05f)
      Map(
        "emb" -> (Seq(vocab.length.toLong, dim.toLong), arr("emb", vocab.length * dim)),
        "pos" -> (Seq(smax.toLong, dim.toLong), arr("pos", smax * dim)),
        "ln1_g" -> (Seq(dim.toLong), Array.tabulate(dim)(i => 1.0f + w("g1", i) * 0.1f)),
        "ln1_b" -> (Seq(dim.toLong), arr("b1n", dim)),
        "wq" -> (Seq(dim.toLong, dim.toLong), eye("wq", dim)),
        "bq" -> (Seq(dim.toLong), arr("bq", dim)),
        "wk" -> (Seq(dim.toLong, dim.toLong), eye("wk", dim)),
        "bk" -> (Seq(dim.toLong), arr("bk", dim)),
        "wv" -> (Seq(dim.toLong, dim.toLong), eye("wv", dim)),
        "bv" -> (Seq(dim.toLong), arr("bv", dim)),
        "wo" -> (Seq(dim.toLong, dim.toLong), eye("wo", dim)),
        "bo" -> (Seq(dim.toLong), arr("bo", dim)),
        "ln2_g" -> (Seq(dim.toLong), Array.tabulate(dim)(i => 1.0f + w("g2", i) * 0.1f)),
        "ln2_b" -> (Seq(dim.toLong), arr("b2n", dim)),
        "w1" -> (Seq(dim.toLong, ff.toLong), arr("w1", dim * ff).map(_ * 0.2f)),
        "b1" -> (Seq(ff.toLong), arr("b1", ff)),
        "w2" -> (Seq(ff.toLong, dim.toLong), arr("w2", ff * dim).map(_ * 0.2f)),
        "b2" -> (Seq(dim.toLong), arr("b2", dim)))
    }
    val tmp = Files.createTempDirectory("graft-wordpiece").toString
    val modelPath = s"$tmp/wp_encoder.onnx"
    val vocabPath = s"$tmp/vocab.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(vocabPath),
      vocab.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(modelPath),
      OnnxProtoWriter.attentionEncoderModel(dim, heads, inits))
    spark.conf.set("spark.graft.encoder.class", classOf[OnnxQueryEncoder].getName)
    spark.conf.set(OnnxQueryEncoder.PathKey, modelPath)
    spark.conf.set(OnnxQueryEncoder.VocabKey, vocabPath)
    spark.conf.set(OnnxQueryEncoder.TokenizerKey, "wordpiece")
    try {
      val query = "Kindle paperwhite charger"
      val qv = QueryEncoder.required(spark).encode(query)
      // the seam's input ids must be the hand tokenization wrapped in
      // [CLS]/[SEP] — verified by running the interpreter directly on
      // those ids (the interpreter itself is bit-verified by the
      // attention spec below)
      val ids = Array("[CLS]", "kindle", "paper", "##white", "charg", "##er", "[SEP]")
        .map(vmap(_).toFloat)
      val g = OnnxModel.load(modelPath)
      val direct = OnnxModel.run(g,
        Map("ids" -> OnnxModel.Tensor(Array(ids.length), ids),
            "attention_mask" -> OnnxModel.Tensor(Array(ids.length),
              Array.fill(ids.length)(1.0f)))).data
      assert(qv.toSeq == direct.toSeq,
        "wordpiece seam must feed exactly the hand tokenization, CLS/SEP-wrapped")
      // e2e: raw text through topKText ≡ the encoded vector through topKVec
      val viaSeam = VectorSearch.topKText(spark, TestSpark.sf, query, k = 5)
        .collect().map(_.toSeq).toSeq
      val dvec = VectorSearch.topKVec(spark, TestSpark.sf, qv, k = 5)
        .collect().map(_.toSeq).toSeq
      assert(viaSeam == dvec && viaSeam.nonEmpty)
      // all-[UNK] is the subword spelling of all-OOV: hard error
      val err = intercept[IllegalArgumentException] {
        QueryEncoder.required(spark).encode("zz9xq !!")
      }
      assert(err.getMessage.contains("no in-vocabulary tokens"))
      // unknown tokenizer mode fails fast, named
      spark.conf.set(OnnxQueryEncoder.TokenizerKey, "bpe")
      val err2 = intercept[IllegalArgumentException] {
        QueryEncoder.required(spark).encode(query)
      }
      assert(err2.getMessage.contains("regex|wordpiece"))
    } finally {
      spark.conf.unset("spark.graft.encoder.class")
      spark.conf.unset(OnnxQueryEncoder.PathKey)
      spark.conf.unset(OnnxQueryEncoder.VocabKey)
      spark.conf.unset(OnnxQueryEncoder.TokenizerKey)
    }
  }

  test("ONNX attention: a generated 1-block self-attention export replays a hand pass bit-for-bit and drives the seam") {
    import graft.functions.{OnnxQueryEncoder, QueryEncoder}
    import graft.operators.VectorSearch
    import graft.sources.OnnxModel
    val (dim, heads, ff, smax) = (64, 4, 32, 16)
    val dk = dim / heads
    val vocab = Seq("kindle", "tablet", "battery", "paperwhite", "charger", "case")
    def w(tag: String, i: Int): Float = (((tag + ":" + i).hashCode % 1000) / 2000.0f)
    def arr(tag: String, n: Int): Array[Float] = Array.tabulate(n)(i => w(tag, i))
    def eye(tag: String, n: Int): Array[Float] =
      Array.tabulate(n * n)(i => if (i % (n + 1) == 0) 1.0f else w(tag, i) * 0.05f)
    val inits: Map[String, (Seq[Long], Array[Float])] = Map(
      "emb" -> (Seq(vocab.length.toLong, dim.toLong), arr("emb", vocab.length * dim)),
      "pos" -> (Seq(smax.toLong, dim.toLong), arr("pos", smax * dim)),
      "ln1_g" -> (Seq(dim.toLong), Array.tabulate(dim)(i => 1.0f + w("g1", i) * 0.1f)),
      "ln1_b" -> (Seq(dim.toLong), arr("b1n", dim)),
      "wq" -> (Seq(dim.toLong, dim.toLong), eye("wq", dim)),
      "bq" -> (Seq(dim.toLong), arr("bq", dim)),
      "wk" -> (Seq(dim.toLong, dim.toLong), eye("wk", dim)),
      "bk" -> (Seq(dim.toLong), arr("bk", dim)),
      "wv" -> (Seq(dim.toLong, dim.toLong), eye("wv", dim)),
      "bv" -> (Seq(dim.toLong), arr("bv", dim)),
      "wo" -> (Seq(dim.toLong, dim.toLong), eye("wo", dim)),
      "bo" -> (Seq(dim.toLong), arr("bo", dim)),
      "ln2_g" -> (Seq(dim.toLong), Array.tabulate(dim)(i => 1.0f + w("g2", i) * 0.1f)),
      "ln2_b" -> (Seq(dim.toLong), arr("b2n", dim)),
      "w1" -> (Seq(dim.toLong, ff.toLong), arr("w1", dim * ff).map(_ * 0.2f)),
      "b1" -> (Seq(ff.toLong), arr("b1", ff)),
      "w2" -> (Seq(ff.toLong, dim.toLong), arr("w2", ff * dim).map(_ * 0.2f)),
      "b2" -> (Seq(dim.toLong), arr("b2", dim)))
    val tmp = Files.createTempDirectory("graft-onnx-attn").toString
    val modelPath = s"$tmp/attn_encoder.onnx"
    val vocabPath = s"$tmp/vocab.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(vocabPath),
      vocab.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(modelPath),
      OnnxProtoWriter.attentionEncoderModel(dim, heads, inits))

    // ---- hand-computed forward pass (plain loops, no interpreter code)
    val ids = Array(0, 2, 3) // kindle battery paperwhite
    val s = ids.length
    def get(n: String): Array[Float] = inits(n)._2
    def mm(a: Array[Float], n: Int, k: Int, b: Array[Float], m: Int): Array[Float] = {
      val out = new Array[Float](n * m)
      for (i <- 0 until n; j <- 0 until m) {
        var acc = 0.0f; var p = 0
        while (p < k) { acc += a(i * k + p) * b(p * m + j); p += 1 }
        out(i * m + j) = acc
      }
      out
    }
    def addRow(a: Array[Float], rows: Int, cols: Int, b: Array[Float]): Array[Float] =
      Array.tabulate(rows * cols)(i => a(i) + b(i % cols))
    def erfAS(x: Float): Float = { // Abramowitz & Stegun 7.1.26
      val t = 1.0 / (1.0 + 0.3275911 * math.abs(x))
      val y = 1.0 - (((((1.061405429 * t - 1.453152027) * t) + 1.421413741) * t
        - 0.284496736) * t + 0.254829592) * t * math.exp(-x * x)
      (if (x >= 0) y else -y).toFloat
    }
    // embedding + position
    val x0 = Array.tabulate(s * dim)(i =>
      get("emb")(ids(i / dim) * dim + i % dim) + get("pos")(i))
    // fused LayerNorm (f32 mean/var, double rsqrt)
    def layerNorm(x: Array[Float], g: Array[Float], b: Array[Float]): Array[Float] = {
      val out = new Array[Float](x.length)
      for (r <- 0 until x.length / dim) {
        var mean = 0.0f
        for (j <- 0 until dim) mean += x(r * dim + j)
        mean /= dim
        var va = 0.0f
        for (j <- 0 until dim) { val d = x(r * dim + j) - mean; va += d * d }
        va /= dim
        val inv = (1.0 / math.sqrt((va + 1e-5f).toDouble)).toFloat
        for (j <- 0 until dim)
          out(r * dim + j) = (x(r * dim + j) - mean) * inv * g(j) + b(j)
      }
      out
    }
    val xn = layerNorm(x0, get("ln1_g"), get("ln1_b"))
    val q1 = addRow(mm(xn, s, dim, get("wq"), dim), s, dim, get("bq"))
    val k1 = addRow(mm(xn, s, dim, get("wk"), dim), s, dim, get("bk"))
    val v1 = addRow(mm(xn, s, dim, get("wv"), dim), s, dim, get("bv"))
    val denom = math.pow(dk.toFloat, 0.5f).toFloat
    val ctx2 = new Array[Float](s * dim)
    for (h <- 0 until heads) {
      def head(m: Array[Float])(i: Int, c: Int): Float = m(i * dim + h * dk + c)
      val scores = Array.tabulate(s * s) { ix =>
        val (i, j) = (ix / s, ix % s)
        var acc = 0.0f; var p = 0
        while (p < dk) { acc += head(q1)(i, p) * head(k1)(j, p); p += 1 }
        acc / denom
      }
      val probs = new Array[Float](s * s)
      for (i <- 0 until s) {
        var mx = Float.NegativeInfinity
        for (j <- 0 until s) mx = math.max(mx, scores(i * s + j))
        var sum = 0.0
        for (j <- 0 until s) {
          probs(i * s + j) = math.exp(scores(i * s + j) - mx).toFloat
          sum += probs(i * s + j)
        }
        for (j <- 0 until s) probs(i * s + j) = (probs(i * s + j) / sum).toFloat
      }
      for (i <- 0 until s; c <- 0 until dk) {
        var acc = 0.0f; var p = 0
        while (p < s) { acc += probs(i * s + p) * head(v1)(p, c); p += 1 }
        ctx2(i * dim + h * dk + c) = acc
      }
    }
    val ao2 = addRow(mm(ctx2, s, dim, get("wo"), dim), s, dim, get("bo"))
    val x1 = Array.tabulate(s * dim)(i => x0(i) + ao2(i))
    // primitive-op LayerNorm (mean → sub → var → sqrt(var+eps) → div → scale/shift)
    val n4 = new Array[Float](s * dim)
    for (r <- 0 until s) {
      var mu = 0.0f
      for (j <- 0 until dim) mu += x1(r * dim + j)
      mu /= dim
      var va = 0.0f
      for (j <- 0 until dim) { val d = x1(r * dim + j) - mu; va += d * d }
      va /= dim
      val sd = math.sqrt(va + 1e-5f).toFloat
      for (j <- 0 until dim)
        n4(r * dim + j) = (x1(r * dim + j) - mu) / sd * get("ln2_g")(j) + get("ln2_b")(j)
    }
    val f2 = addRow(mm(n4, s, dim, get("w1"), ff), s, ff, get("b1"))
    val f3 = f2.map(x => (0.5f * x) * (1.0f + erfAS((x / math.sqrt(2.0)).toFloat)))
    val f5 = addRow(mm(f3, s, ff, get("w2"), dim), s, dim, get("b2"))
    val hOut = Array.tabulate(s * dim)(i => n4(i) + f5(i))
    // mean/max pooling mix over tokens, then L2
    val pooled = Array.tabulate(dim) { j =>
      var mean = 0.0f; var mx = Float.NegativeInfinity
      for (i <- 0 until s) {
        mean += hOut(i * dim + j)
        mx = math.max(mx, hOut(i * dim + j))
      }
      mean /= s
      (mean * 0.5f) + (mx * 0.5f)
    }
    var ss = 0.0f
    for (j <- 0 until dim) ss += pooled(j) * pooled(j)
    val nr = math.sqrt(ss).toFloat
    val expected = pooled.map(_ / nr)

    // ---- 1. the interpreter replays the hand pass bit-for-bit
    val g = OnnxModel.load(modelPath)
    val got = OnnxModel.run(g,
      Map("ids" -> OnnxModel.Tensor(Array(s), ids.map(_.toFloat)),
          "attention_mask" -> OnnxModel.Tensor(Array(s), Array.fill(s)(1.0f)))).data
    assert(got.length == dim)
    val diffs = got.zip(expected).zipWithIndex.filter { case ((a, b), _) => a != b }
    assert(diffs.isEmpty,
      s"attention interpreter diverged from the hand pass at ${diffs.take(3).map(_._2).mkString(",")}: " +
        diffs.take(3).map { case ((a, b), i) => s"[$i] got=$a exp=$b" }.mkString("; "))

    // sanity: the attention block actually attends (prob mass off-diagonal
    // moved the vector away from a no-attention encode of the same ids)
    assert(math.abs(got.map(x => x * x).sum - 1.0f) < 1e-4f, "L2-normalized output")

    // ---- 2. the seam: the attention export drives topKText e2e
    spark.conf.set("spark.graft.encoder.class", classOf[OnnxQueryEncoder].getName)
    spark.conf.set(OnnxQueryEncoder.PathKey, modelPath)
    spark.conf.set(OnnxQueryEncoder.VocabKey, vocabPath)
    try {
      val query = "kindle battery paperwhite"
      val viaSeam = VectorSearch.topKText(spark, TestSpark.sf, query, k = 5)
        .collect().map(_.toSeq).toSeq
      val qv = QueryEncoder.required(spark).encode(query)
      assert(qv.toSeq == got.toSeq,
        "seam-resolved encoder must produce the verified attention forward pass")
      val direct = VectorSearch.topKVec(spark, TestSpark.sf, qv, k = 5)
        .collect().map(_.toSeq).toSeq
      assert(viaSeam == direct && viaSeam.nonEmpty,
        "attention-ONNX-encoded raw text must flow through topKText unchanged")
    } finally {
      spark.conf.unset("spark.graft.encoder.class")
      spark.conf.unset(OnnxQueryEncoder.PathKey)
      spark.conf.unset(OnnxQueryEncoder.VocabKey)
    }
  }

  test("corpus-lexical encoder: learned lexicon drives raw-text search end-to-end") {
    import graft.functions.{CorpusLexicalEncoder, CorpusLexicalQueryEncoder}
    import graft.operators.VectorSearch
    spark.conf.set("spark.graft.encoder.class", classOf[CorpusLexicalQueryEncoder].getName)
    spark.conf.set(CorpusLexicalEncoder.DirKey, TestSpark.sf)
    try {
      // the artifact builds once and is complete on disk
      val lex = CorpusLexicalEncoder.ensureLexicon(spark, TestSpark.sf).collect()
      assert(lex.nonEmpty)
      val dim = lex.head.getSeq[Float](2).length
      assert(lex.forall(_.getSeq[Float](2).length == dim))
      assert(graft.sources.IndexStore.exists(spark,
        CorpusLexicalEncoder.lexiconPath(spark, TestSpark.sf) + "/_GRAFT_COMPLETE"))

      // semantic grounding on a purpose-built corpus: a term occurring
      // in exactly ONE document encodes to that document's embedding
      // direction, so top-1 must be the containing doc
      {
        import spark.implicits._
        val tiny = Files.createTempDirectory("graft-lexenc").toString
        Seq((0L, "alpha shared words"), (1L, "beta shared words"), (2L, "gamma shared words"))
          .toDF("doc_id", "text").write.parquet(s"$tiny/documents.parquet")
        Seq((0L, Array(1f, 0f, 0f, 0f), 0), (1L, Array(0f, 1f, 0f, 0f), 1),
            (2L, Array(0f, 0f, 1f, 0f), 2))
          .toDF("vec_id", "embedding", "label").write.parquet(s"$tiny/embeddings.parquet")
        spark.conf.set(CorpusLexicalEncoder.DirKey, tiny)
        for ((term, home) <- Seq(("alpha", 0L), ("beta", 1L), ("gamma", 2L))) {
          val top = VectorSearch.topKText(spark, tiny, term, k = 1).head()
          assert(top.getLong(0) == home,
            s"df=1 term '$term' should retrieve its home doc $home, got ${top.getLong(0)}")
        }
        spark.conf.set(CorpusLexicalEncoder.DirKey, TestSpark.sf)
      }

      // front door equals topKVec on the encoder's own vector
      val enc = new CorpusLexicalQueryEncoder
      val viaText = VectorSearch.topKText(spark, TestSpark.sf, "the data", k = 5)
        .collect().map(_.toSeq).toSeq
      val viaVec = VectorSearch.topKVec(spark, TestSpark.sf, enc.encode("the data"), k = 5)
        .collect().map(_.toSeq).toSeq
      assert(viaText == viaVec && viaText.nonEmpty)

      // unknown-vocabulary queries fail loudly, never rank at random
      val err = intercept[IllegalArgumentException] {
        VectorSearch.topKText(spark, TestSpark.sf, "zzzznotaterm", k = 3)
      }
      assert(err.getMessage.contains("lexicon"))
    } finally {
      spark.conf.unset("spark.graft.encoder.class")
      spark.conf.unset(CorpusLexicalEncoder.DirKey)
    }
  }

  test("vec_dot is callable from SQL after extension registration") {
    GraftExtensions.register(spark)
    Tables.embeddings(spark, TestSpark.sf).createOrReplaceTempView("emb")
    val r = spark.sql(
      "SELECT vec_dot(embedding, embedding) AS d FROM emb WHERE vec_id = 0").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-4)
  }

  test("scratch cache bounds live persisted entries and unpersists evictions") {
    import graft.sources.ScratchCache
    import org.apache.spark.storage.StorageLevel
    ScratchCache.clear()
    spark.conf.set("spark.graft.scratch.cache.size", "2")
    try {
      import spark.implicits._
      val frames = (0 until 3).map { i =>
        ScratchCache.materialize(Seq(i, i + 1).toDF(s"c$i"))
      }
      frames.foreach(_.count())
      assert(ScratchCache.size == 2, s"LRU must hold at most 2, held ${ScratchCache.size}")
      // the first (oldest) frame was evicted and unpersisted; the
      // last two still hold their storage level
      assert(frames(0).storageLevel == StorageLevel.NONE, "evicted frame must be unpersisted")
      assert(frames(2).storageLevel != StorageLevel.NONE)
      // same logical plan → same cached frame, no new entry
      val again = ScratchCache.materialize(Seq(2, 3).toDF("c2"))
      assert(ScratchCache.size == 2)
      assert(again.storageLevel != StorageLevel.NONE)
    } finally {
      spark.conf.unset("spark.graft.scratch.cache.size")
      ScratchCache.clear()
    }
  }

  test("corpus-lexical vocabulary follows a rewritten corpus and a changed maxVocab") {
    import graft.functions.{CorpusLexicalEncoder, CorpusLexicalQueryEncoder}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-vocab").toString
    val prevRoot = spark.conf.get("spark.graft.index.root", "target/graft-index")
    def write(docs: Seq[(Long, String)]): Unit = {
      docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
      docs.map { case (id, _) => (id, Array.tabulate(4)(j => if (j == id) 1f else 0f), id.toInt) }
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    spark.conf.set("spark.graft.index.root", s"$dir/index")
    spark.conf.set(CorpusLexicalEncoder.DirKey, dir)
    val enc = new CorpusLexicalQueryEncoder
    try {
      write(Seq((0L, "alpha shared"), (1L, "alpha beta")))
      assert(enc.encode("beta").length == 4)
      // same dir, new documents: the vocabulary must follow the corpus
      write(Seq((0L, "gamma shared"), (1L, "gamma delta")))
      assert(enc.encode("delta").length == 4, "a term only in the new corpus must encode")
      val gone = intercept[IllegalArgumentException](enc.encode("beta"))
      assert(gone.getMessage.contains("no query term"), gone.getMessage)
      // maxVocab = 1 keeps only the highest-df term (gamma, df 2)
      spark.conf.set(CorpusLexicalEncoder.VocabKey, "1")
      val cut = intercept[IllegalArgumentException](enc.encode("delta"))
      assert(cut.getMessage.contains("no query term"), cut.getMessage)
      assert(enc.encode("gamma").length == 4)
    } finally {
      spark.conf.unset(CorpusLexicalEncoder.VocabKey)
      spark.conf.unset(CorpusLexicalEncoder.DirKey)
      spark.conf.set("spark.graft.index.root", prevRoot)
    }
  }

  test("driver memo: builds run outside the lock, so nested and concurrent lookups complete") {
    import graft.sources.DriverMemo
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    try {
      val v = DriverMemo.memo(spark, "memo-spec|outer") {
        // another thread's lookup while this build is in flight would
        // block until the timeout if the build held the memo's lock
        val other = Await.result(
          Future(DriverMemo.memo(spark, "memo-spec|other")("other")), 30.seconds)
        DriverMemo.memo(spark, "memo-spec|inner")("inner") + "+" + other
      }
      assert(v == "inner+other")
      assert(DriverMemo.memo[String](spark, "memo-spec|outer")(fail("must hit")) eq v)
    } finally DriverMemo.invalidate(spark, "memo-spec|")
  }

  test("driver memo: racing first lookups share one instance and the loser is unpersisted") {
    import graft.sources.DriverMemo
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.storage.StorageLevel
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val bothBuilding = new java.util.concurrent.CountDownLatch(2)
    val met = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Boolean]()
    val built = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    def lookup(i: Int): Future[DataFrame] = Future {
      DriverMemo.pinned(spark, "memo-spec|race") {
        val df = Seq(i).toDF("race") // distinct rows: distinct cache entries
        built.add(df)
        bothBuilding.countDown()
        met.add(bothBuilding.await(30, java.util.concurrent.TimeUnit.SECONDS))
        df
      }
    }
    try {
      val got = Await.result(Future.sequence(Seq(lookup(1), lookup(2))), 2.minutes)
      assert(met.asScala.toSeq.map(_.booleanValue) == Seq(true, true),
        "both first lookups must build concurrently")
      assert(got(0) eq got(1), "racers must get the same instance")
      val loser = built.asScala.find(_ ne got(0)).get
      assert(loser.storageLevel == StorageLevel.NONE, "the loser's frame must be unpersisted")
      assert(got(0).storageLevel != StorageLevel.NONE)
    } finally DriverMemo.invalidate(spark, "memo-spec|")
  }

  test("driver memo: a changed stamp replaces the entry instead of adding one") {
    import graft.sources.DriverMemo
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    try {
      val a = DriverMemo.pinned(spark, "memo-spec|stamp", "fp-a")(Seq(10).toDF("s"))
      val live = DriverMemo.size
      val b = DriverMemo.pinned(spark, "memo-spec|stamp", "fp-b")(Seq(11).toDF("s"))
      assert(DriverMemo.size == live, "a restamped key must not add a second entry")
      assert(a.storageLevel == StorageLevel.NONE, "the replaced frame must be released")
      assert(DriverMemo.pinned(spark, "memo-spec|stamp", "fp-b")(fail("must hit")) eq b)
    } finally DriverMemo.invalidate(spark, "memo-spec|")
  }

  test("DriverMemo holds the only session-keyed memo map and dead-session sweep") {
    import scala.jdk.CollectionConverters._
    val banned = Seq("sparkContext\\.isStopped", "ConcurrentHashMap\\[\\s*\\(SparkSession",
      "LinkedHashMap\\[\\s*\\(SparkSession").map(_.r)
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (cwd has no $root)")
    val offenders = Files.walk(root).iterator.asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "DriverMemo.scala")
      .flatMap { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        banned.flatMap(_.findAllMatchIn(text)).map { m =>
          s"$p:${text.substring(0, m.start).count(_ == '\n') + 1}: ${m.matched}"
        }
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("vec_norm and vec_cosine compose the same kernel in SQL") {
    GraftExtensions.register(spark)
    Tables.embeddings(spark, TestSpark.sf).createOrReplaceTempView("emb")
    val r = spark.sql(
      """SELECT vec_norm(a.embedding) AS n, vec_cosine(a.embedding, b.embedding) AS c
        |FROM emb a JOIN emb b ON b.vec_id = a.vec_id
        |WHERE a.vec_id = 0""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-4) // unit-norm corpus
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-6) // self-cosine = 1
  }

  test("npy reader ingests the reference's own embedding artifacts") {
    import graft.sources.NpySource
    // 66×384 f4 matrix (reference app.py:68-70 loads it with np.load)
    val df = NpySource.readNpy(spark, ReferenceInterop.ProductsNpy)
    assert(df.count() == 66L)
    val rows = df.orderBy("vec_id").collect()
    assert(rows.head.getLong(0) == 0L && rows.last.getLong(0) == 65L)
    assert(rows.forall(_.getSeq[Float](1).length == 384))
    // spot values verified against an independent decode of the raw bytes
    val r0 = rows.head.getSeq[Float](1)
    assert(math.abs(r0(0) - 0.013940855f) < 1e-7f)
    assert(math.abs(r0(1) - (-0.057955224f)) < 1e-7f)
    val r65 = rows.last.getSeq[Float](1)
    assert(math.abs(r65(0) - (-0.04671314f)) < 1e-7f)
    // small batchRows must shard the read without changing the result
    val sharded = NpySource.readNpy(spark, ReferenceInterop.ProductsNpy, batchRows = 7)
      .orderBy("vec_id").collect()
    assert(sharded.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).toSeq)
    assert(sharded.zip(rows).forall { case (a, b) =>
      a.getSeq[Float](1) == b.getSeq[Float](1) })
  }

  test("faiss flat reader byte-matches the npy matrix (same vectors, same order)") {
    import graft.sources.{FaissSource, NpySource}
    // the reference builds faiss_products_flat.index FROM
    // product_embeddings.npy (app.py:75-80), so the two artifacts must
    // decode to bit-identical float rows in the same insertion order
    val faiss = FaissSource.readFlat(spark, ReferenceInterop.ProductsFlatIndex)
      .orderBy("vec_id").collect()
    val npy = NpySource.readNpy(spark, ReferenceInterop.ProductsNpy)
      .orderBy("vec_id").collect()
    assert(faiss.length == 66 && faiss.length == npy.length)
    faiss.zip(npy).foreach { case (f, n) =>
      assert(f.getLong(0) == n.getLong(0))
      assert(f.getSeq[Float](1) == n.getSeq[Float](1),
        s"row ${f.getLong(0)} differs between faiss and npy decode")
    }
    // sharded read must not change the result
    val sharded = FaissSource.readFlat(spark,
      ReferenceInterop.ProductsFlatIndex, batchRows = 7)
      .orderBy("vec_id").collect()
    assert(sharded.zip(faiss).forall { case (a, b) =>
      a.getLong(0) == b.getLong(0) && a.getSeq[Float](1) == b.getSeq[Float](1) })
  }

  test("faiss ivf reader reconstructs the review matrix; cell selection reads only those lists") {
    import graft.sources.{FaissSource, NpySource}
    val h = FaissSource.readIvfHeader(spark, ReferenceInterop.ReviewsIvfIndex)
    assert(h.dim == 384 && h.nlist == 39 && h.rows == 1578L)
    assert(h.listSizes.sum == 1578L)
    // every (id, vector) pair across all lists equals the npy row —
    // the IVF artifact is a re-bucketing of the same matrix
    val npy = NpySource.readNpy(spark, ReferenceInterop.ReviewsNpy)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val all = FaissSource.readIvfLists(spark, ReferenceInterop.ReviewsIvfIndex)
      .collect()
    assert(all.length == 1578)
    assert(all.map(_.getLong(1)).sorted.toSeq == (0L until 1578L))
    all.foreach { r =>
      assert(r.getSeq[Float](2) == npy(r.getLong(1)),
        s"vec ${r.getLong(1)} differs between ivf list and npy") }
    // selecting cells returns exactly those lists' members
    val some = FaissSource.readIvfLists(spark,
      ReferenceInterop.ReviewsIvfIndex, Some(Seq(0, 3)))
      .collect()
    assert(some.length == (h.listSizes(0) + h.listSizes(3)).toInt)
    assert(some.map(_.getInt(0)).toSet == Set(0, 3))
  }

  test("ivf search over the reference index matches brute force on the probed members") {
    val qv = ReferenceInterop.npyRow(spark, ReferenceInterop.ReviewsNpy, 0L)
    val got = ReferenceInterop.ivfTopK(spark, ReferenceInterop.ReviewsIvfIndex,
      qv, nprobe = 4, k = 10, excludeId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 10)
    // brute force the same probed members with driver double math
    val h = graft.sources.FaissSource.readIvfHeader(spark, ReferenceInterop.ReviewsIvfIndex)
    val probed = h.centroids.zipWithIndex.map { case (c, i) =>
      (c.zip(qv).map { case (a, b) => a.toDouble * b }.sum, i)
    }.sortBy { case (s, i) => (-s, i) }.take(4).map(_._2)
    val members = graft.sources.FaissSource.readIvfLists(spark,
      ReferenceInterop.ReviewsIvfIndex, Some(probed.toSeq)).collect()
    val qn = math.sqrt(qv.map(x => x.toDouble * x).sum)
    def r5(x: Double) = BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = members.filter(_.getLong(1) != 0L).map { r =>
      val v = r.getSeq[Float](2)
      val dot = v.zip(qv).map { case (a, b) => a.toDouble * b.toDouble }.sum
      val vn = math.sqrt(v.map(x => x.toDouble * x).sum)
      (r.getLong(1), r5(dot / (vn * qn)))
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    assert(got.toSeq == expect.toSeq)
  }

  test("ann demo: the ivf leg never beats the exhaustive flat leg at any rank") {
    val rows = ReferenceInterop.annDemoReference(spark).collect()
    val flat = rows.filter(_.getString(0) == "flat").map(_.getDouble(2))
    val ivf = rows.filter(_.getString(0) == "ivf").map(_.getDouble(2))
    assert(flat.length == 10 && ivf.length == 10)
    // both legs are sorted descending, and flat (exhaustive over the
    // whole corpus) dominates ivf (a 5-cell subset) rank for rank
    assert(flat.sameElements(flat.sorted.reverse) && ivf.sameElements(ivf.sorted.reverse))
    flat.zip(ivf).foreach { case (f, i) => assert(f >= i, s"flat $f < ivf $i") }
    // the self row is removed from both legs
    assert(rows.forall(_.getLong(1) != 0L))
  }

  test("compare matrix is symmetric with a unit diagonal") {
    val ids = Seq("AV000tWuGV-KLJ3ac2-b", "AV00l7jV-jtxr-f30lnX", "AV1T09fyvKc47QAVgf2R")
    val m = ReferenceInterop.compareProductsReference(spark, ids).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m.size == 9)
    ids.foreach { i => assert(math.abs(m((i, i)) - 1.0) < 1e-4, s"diag($i)") }
    for (a <- ids; b <- ids) assert(m((a, b)) == m((b, a)), s"asymmetry at ($a,$b)")
    // 2-4 ids enforced (app.py:333-336)
    assertThrows[IllegalArgumentException] {
      ReferenceInterop.compareProductsReference(spark, ids.take(1))
    }
  }

  test("faiss reader rejects non-flat families with a clear message") {
    import graft.sources.FaissSource
    // faiss_reviews_ivf.index is an IndexIVFFlat ("IwFl") — trained
    // state the flat reader must refuse, not misparse
    val e = intercept[IllegalArgumentException] {
      FaissSource.readFlat(spark, ReferenceInterop.ReviewsIvfIndex)
    }
    assert(e.getMessage.contains("IwFl") && e.getMessage.contains("IndexFlat"))
  }

  test("row-indexed csv assigns file-order ids and refuses multi-file inputs") {
    import graft.sources.Sources
    import org.apache.spark.sql.types._
    val schema = StructType(Seq("id", "asins", "brand", "categories",
      "reviews.title", "reviews.text", "reviews.rating", "combined_text")
      .map(f => StructField(f, StringType)))
    val df = Sources.readCsvRowIndexed(spark, ReferenceInterop.ReviewsCsv, schema)
    val rows = df.select("row_id", "combined_text").orderBy("row_id").collect()
    assert(rows.length == 1578)
    assert(rows.map(_.getLong(0)).toSeq == (0L until 1578L))
    // file-order spot checks against the raw file's first data row
    assert(rows.head.getString(1).startsWith("paperwhite voyage, no regrets!"))
    // deterministic across reads
    val again = Sources.readCsvRowIndexed(spark, ReferenceInterop.ReviewsCsv, schema)
      .select("row_id", "combined_text").orderBy("row_id").collect()
    assert(again.map(_.getString(1)).toSeq == rows.map(_.getString(1)).toSeq)
    // positional ids are undefined over several files — must refuse
    val dir = Files.createTempDirectory("graft-csv2").toString
    val two = StructType(Seq(StructField("a", StringType)))
    Seq("a\nx", "a\ny").zipWithIndex.foreach { case (s, i) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/f$i.csv"), s.getBytes) }
    val e = intercept[IllegalArgumentException] {
      Sources.readCsvRowIndexed(spark, dir, two).collect()
    }
    assert(e.getMessage.contains("single input file"))
  }

  test("reference lexical encoder serves free text in the real MiniLM space") {
    import graft.functions.{CorpusLexicalEncoder, CorpusLexicalQueryEncoder}
    val vocab = CorpusLexicalQueryEncoder.referenceVocabulary(spark,
      ReferenceInterop.ReviewsCsv, ReferenceInterop.ReviewsNpy)
    assert(vocab.size > 5000, s"reference lexicon too small: ${vocab.size}")
    val qv = CorpusLexicalEncoder.encodeWithVocab(vocab, "kindle tablet battery")
    assert(qv.length == 384)
    val n2 = qv.map(x => x.toDouble * x).sum
    assert(math.abs(n2 - 1.0) < 1e-6, s"encode must L2-normalize (|q|² = $n2)")
    // the e2e search over the reference's own product matrix ranks a
    // kindle-family product first (oracle-verified id 34)
    val top = graft.SparkEntry.queries("vs_topk_reference_text")(spark, TestSpark.sf)
      .collect()
    assert(top.length == 10 && top.head.getLong(0) == 34L,
      s"unexpected top product: ${top.head}")
  }

  test("npy write/read round-trips the engine's embedding frame bit-for-bit") {
    import graft.sources.NpySource
    val dir = Files.createTempDirectory("graft-npy").toString
    val emb = Tables.embeddings(spark, TestSpark.sf).select("vec_id", "embedding")
    NpySource.writeNpy(emb, s"$dir/emb.npy")
    val back = NpySource.readNpy(spark, s"$dir/emb.npy")
    val orig = emb.orderBy("vec_id").collect()
    val got = back.orderBy("vec_id").collect()
    assert(got.length == orig.length)
    // vec_id becomes the ROW INDEX on export (npy carries no ids) —
    // compare positionally
    got.zip(orig).foreach { case (g, o) =>
      assert(g.getSeq[Float](1) == o.getSeq[Float](1))
    }
  }

  test("every reference-format reader names a missing artifact") {
    import graft.sources.{FaissSource, JoblibSource, NpySource}
    val gone = Files.createTempDirectory("graft-missing").toString + "/absent"
    val readers: Seq[(String, () => Any)] = Seq(
      "csv" -> (() => Sources.readCsv(spark, gone, Tables.documents(spark, TestSpark.sf).schema)),
      "npy" -> (() => NpySource.readNpy(spark, gone)),
      "faiss flat" -> (() => FaissSource.readFlat(spark, gone)),
      "faiss ivf" -> (() => FaissSource.readIvfLists(spark, gone)),
      "joblib" -> (() => JoblibSource.readTfidfVectorizer(spark, gone)))
    readers.foreach { case (kind, read) =>
      val e = intercept[java.io.FileNotFoundException](read())
      assert(e.getMessage == s"reference artifact missing: $gone", kind)
    }
  }
}

/** Test-side ONNX ModelProto writer — just enough protobuf wire format
  * (public onnx.proto field numbers) to generate the tiny encoder
  * graph the OnnxModel spec drives end-to-end: Gather(embedding) →
  * ReduceMean pool → MatMul+Add+Tanh dense → L2 normalize.
  */
object OnnxProtoWriter {
  import java.io.ByteArrayOutputStream
  import java.nio.{ByteBuffer, ByteOrder}

  private def varint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    do {
      val b = (v & 0x7f).toInt; v >>>= 7
      out.write(if (v != 0) b | 0x80 else b)
    } while (v != 0)
  }
  private def key(out: ByteArrayOutputStream, field: Int, wt: Int): Unit =
    varint(out, (field.toLong << 3) | wt)
  private def bytesField(out: ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
    key(out, field, 2); varint(out, b.length); out.write(b)
  }
  private def strField(out: ByteArrayOutputStream, field: Int, s: String): Unit =
    bytesField(out, field, s.getBytes("UTF-8"))
  private def intField(out: ByteArrayOutputStream, field: Int, v: Long): Unit = {
    key(out, field, 0); varint(out, v)
  }
  private def floatsLE(vs: Array[Float]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vs.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    vs.foreach(bb.putFloat); bb.array()
  }

  /** TensorProto: dims as repeated varints, FLOAT dtype, payload via
    * raw_data or packed float_data (both reader paths exercised).
    */
  private def tensor(name: String, dims: Seq[Long], data: Array[Float],
                     useRaw: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    dims.foreach(d => intField(out, 1, d))
    intField(out, 2, 1L) // data_type FLOAT
    if (useRaw) bytesField(out, 9, floatsLE(data))
    else bytesField(out, 4, floatsLE(data)) // packed float_data
    strField(out, 8, name)
    out.toByteArray
  }

  private def attrInts(name: String, ints: Seq[Long]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    strField(out, 1, name)
    ints.foreach(v => intField(out, 8, v))
    intField(out, 20, 7L) // AttributeProto.Type INTS
    out.toByteArray
  }
  private def attrInt(name: String, v: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    strField(out, 1, name); intField(out, 3, v); intField(out, 20, 2L)
    out.toByteArray
  }
  private def attrFloat(name: String, v: Float): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    strField(out, 1, name)
    key(out, 2, 5)
    val bb = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putFloat(v)
    out.write(bb.array())
    intField(out, 20, 1L) // AttributeProto.Type FLOAT
    out.toByteArray
  }
  private def attrTensor(name: String, t: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    strField(out, 1, name); bytesField(out, 5, t); intField(out, 20, 4L)
    out.toByteArray
  }
  /** INT64 TensorProto via raw_data — the dtype exporters use for
    * shape specs / slice bounds / axes inputs. */
  private def tensorI64(name: String, dims: Seq[Long], data: Seq[Long]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    dims.foreach(d => intField(out, 1, d))
    intField(out, 2, 7L) // data_type INT64
    val bb = ByteBuffer.allocate(data.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    data.foreach(bb.putLong)
    bytesField(out, 9, bb.array())
    strField(out, 8, name)
    out.toByteArray
  }

  private def node(op: String, ins: Seq[String], outs: Seq[String],
                   attrs: Seq[Array[Byte]] = Seq.empty): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ins.foreach(strField(out, 1, _))
    outs.foreach(strField(out, 2, _))
    strField(out, 4, op)
    attrs.foreach(bytesField(out, 5, _))
    out.toByteArray
  }

  private def valueInfo(name: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    strField(out, 1, name)
    out.toByteArray
  }

  private def model(nodes: Seq[Array[Byte]], inits: Seq[Array[Byte]],
                    input: String, output: String,
                    extraInputs: Seq[String] = Seq.empty): Array[Byte] = {
    val g = new ByteArrayOutputStream()
    nodes.foreach(bytesField(g, 1, _))
    inits.foreach(bytesField(g, 5, _))
    (input +: extraInputs).foreach(n => bytesField(g, 11, valueInfo(n)))
    bytesField(g, 12, valueInfo(output))
    val m = new ByteArrayOutputStream()
    intField(m, 1, 8L) // ir_version
    bytesField(m, 7, g.toByteArray)
    m.toByteArray
  }

  /** The spec's encoder: ids → Gather → mean-pool → dense+tanh → L2. */
  def encoderModel(vocabSize: Int, dim: Int, embTable: Array[Float],
                   dense: Array[Float], bias: Array[Float]): Array[Byte] =
    model(
      nodes = Seq(
        node("Gather", Seq("emb_table", "ids"), Seq("tok_emb"), Seq(attrInt("axis", 0))),
        node("ReduceMean", Seq("tok_emb"), Seq("pooled"),
          Seq(attrInts("axes", Seq(0L)), attrInt("keepdims", 0))),
        node("MatMul", Seq("pooled", "w"), Seq("h0")),
        node("Add", Seq("h0", "b"), Seq("h1")),
        node("Tanh", Seq("h1"), Seq("act")),
        node("Mul", Seq("act", "act"), Seq("sq")),
        node("ReduceSum", Seq("sq"), Seq("ss"),
          Seq(attrInts("axes", Seq(0L)), attrInt("keepdims", 0))),
        node("Sqrt", Seq("ss"), Seq("nrm")),
        node("Div", Seq("act", "nrm"), Seq("vec"))),
      inits = Seq(
        tensor("emb_table", Seq(vocabSize, dim), embTable, useRaw = true),
        tensor("w", Seq(dim, dim), dense, useRaw = true),
        tensor("b", Seq(dim), bias, useRaw = false)),
      input = "ids", output = "vec")

  /** A graph whose single node carries an op outside the subset. */
  def unsupportedOpModel(op: String): Array[Byte] =
    model(nodes = Seq(node(op, Seq("ids"), Seq("vec"))),
      inits = Seq.empty, input = "ids", output = "vec")

  /** A COMPLETE 1-block self-attention encoder export (MiniLM shape at
    * toy dims): embedding + dynamic position slice → fused LayerNorm →
    * multi-head QK^T/√dk softmax V (mask built from Shape/
    * ConstantOfShape/Where) → residual → primitive-op LayerNorm →
    * Gelu FFN → residual → mean/max pooling mix → Split/Concat/Squeeze
    * round-trip → L2 normalize. Exercises every attention-era op the
    * interpreter claims: Cast, Shape, Slice (input-style with a
    * RUNTIME end), ConstantOfShape, Unsqueeze (attr axes), Greater,
    * Where, Pow, batched MatMul, Softmax, LayerNormalization (fused),
    * Gelu, ReduceMax, Split (multi-output), Concat, Squeeze.
    *
    * `inits`: name → (dims, data) float weights. Required names:
    * emb [V,D], pos [Smax,D], ln1_g/ln1_b [D], wq/wk/wv/wo [D,D],
    * bq/bk/bv/bo [D], ln2_g/ln2_b [D], w1 [D,F], b1 [F], w2 [F,D],
    * b2 [D].
    */
  def attentionEncoderModel(dim: Int, heads: Int,
                            inits: Map[String, (Seq[Long], Array[Float])]): Array[Byte] = {
    val dk = dim / heads
    val weightTensors = inits.toSeq.sortBy(_._1).map { case (n, (dims, data)) =>
      tensor(n, dims, data, useRaw = true) }
    val constTensors = Seq(
      tensorI64("i0", Seq(1), Seq(0L)),
      tensorI64("i1", Seq(1), Seq(1L)),
      tensorI64("axes0", Seq(1), Seq(0L)),
      tensorI64("shape_hsd", Seq(3), Seq(-1L, heads.toLong, dk.toLong)),
      tensorI64("shape_sd", Seq(2), Seq(-1L, dim.toLong)),
      tensor("c_half", Seq(1), Array(0.5f), useRaw = false),
      tensor("c_dk", Seq(1), Array(dk.toFloat), useRaw = false),
      tensor("c_eps", Seq(1), Array(1e-5f), useRaw = false))
    val negBig = tensor("", Seq(1), Array(-10000.0f), useRaw = true)
    model(
      nodes = Seq(
        node("Cast", Seq("ids"), Seq("idsf"), Seq(attrInt("to", 7))),
        node("Gather", Seq("emb", "idsf"), Seq("tok"), Seq(attrInt("axis", 0))),
        node("Shape", Seq("tok"), Seq("shp")),
        node("Slice", Seq("shp", "i0", "i1", "axes0"), Seq("slen")),
        node("Slice", Seq("pos", "i0", "slen", "axes0"), Seq("pos_s")),
        node("Add", Seq("tok", "pos_s"), Seq("x0")),
        node("LayerNormalization", Seq("x0", "ln1_g", "ln1_b"), Seq("xn"),
          Seq(attrInt("axis", -1), attrFloat("epsilon", 1e-5f))),
        node("MatMul", Seq("xn", "wq"), Seq("q0")),
        node("Add", Seq("q0", "bq"), Seq("q1")),
        node("MatMul", Seq("xn", "wk"), Seq("k0")),
        node("Add", Seq("k0", "bk"), Seq("k1")),
        node("MatMul", Seq("xn", "wv"), Seq("v0")),
        node("Add", Seq("v0", "bv"), Seq("v1")),
        node("Reshape", Seq("q1", "shape_hsd"), Seq("qr")),
        node("Transpose", Seq("qr"), Seq("qt"), Seq(attrInts("perm", Seq(1L, 0L, 2L)))),
        node("Reshape", Seq("k1", "shape_hsd"), Seq("kr")),
        node("Transpose", Seq("kr"), Seq("kt"), Seq(attrInts("perm", Seq(1L, 0L, 2L)))),
        node("Reshape", Seq("v1", "shape_hsd"), Seq("vr")),
        node("Transpose", Seq("vr"), Seq("vt"), Seq(attrInts("perm", Seq(1L, 0L, 2L)))),
        node("Transpose", Seq("kt"), Seq("ktt"), Seq(attrInts("perm", Seq(0L, 2L, 1L)))),
        node("MatMul", Seq("qt", "ktt"), Seq("scores")),
        node("Pow", Seq("c_dk", "c_half"), Seq("denom")),
        node("Div", Seq("scores", "denom"), Seq("scaled")),
        // the mask is a REAL second graph input (as transformer
        // exports declare it), not a constant — Where keys off it
        node("Unsqueeze", Seq("attention_mask"), Seq("maskU"), Seq(attrInts("axes", Seq(0L)))),
        node("Greater", Seq("maskU", "c_half"), Seq("cond")),
        node("ConstantOfShape", Seq("slen"), Seq("negbig"), Seq(attrTensor("value", negBig))),
        node("Unsqueeze", Seq("negbig"), Seq("negU"), Seq(attrInts("axes", Seq(0L)))),
        node("Where", Seq("cond", "scaled", "negU"), Seq("masked")),
        node("Softmax", Seq("masked"), Seq("probs"), Seq(attrInt("axis", -1))),
        node("MatMul", Seq("probs", "vt"), Seq("ctx")),
        node("Transpose", Seq("ctx"), Seq("ctxt"), Seq(attrInts("perm", Seq(1L, 0L, 2L)))),
        node("Reshape", Seq("ctxt", "shape_sd"), Seq("ctx2")),
        node("MatMul", Seq("ctx2", "wo"), Seq("ao")),
        node("Add", Seq("ao", "bo"), Seq("ao2")),
        node("Add", Seq("x0", "ao2"), Seq("x1")),
        node("ReduceMean", Seq("x1"), Seq("mu"),
          Seq(attrInts("axes", Seq(-1L)), attrInt("keepdims", 1))),
        node("Sub", Seq("x1", "mu"), Seq("dev")),
        node("Mul", Seq("dev", "dev"), Seq("dev2")),
        node("ReduceMean", Seq("dev2"), Seq("varr"),
          Seq(attrInts("axes", Seq(-1L)), attrInt("keepdims", 1))),
        node("Add", Seq("varr", "c_eps"), Seq("vare")),
        node("Sqrt", Seq("vare"), Seq("sd")),
        node("Div", Seq("dev", "sd"), Seq("n2")),
        node("Mul", Seq("n2", "ln2_g"), Seq("n3")),
        node("Add", Seq("n3", "ln2_b"), Seq("n4")),
        node("MatMul", Seq("n4", "w1"), Seq("f1")),
        node("Add", Seq("f1", "b1"), Seq("f2")),
        node("Gelu", Seq("f2"), Seq("f3")),
        node("MatMul", Seq("f3", "w2"), Seq("f4")),
        node("Add", Seq("f4", "b2"), Seq("f5")),
        node("Add", Seq("n4", "f5"), Seq("h")),
        node("ReduceMean", Seq("h"), Seq("pmean"),
          Seq(attrInts("axes", Seq(0L)), attrInt("keepdims", 0))),
        node("ReduceMax", Seq("h"), Seq("pmax"),
          Seq(attrInts("axes", Seq(0L)), attrInt("keepdims", 0))),
        node("Mul", Seq("pmean", "c_half"), Seq("pm1")),
        node("Mul", Seq("pmax", "c_half"), Seq("pm2")),
        node("Add", Seq("pm1", "pm2"), Seq("pooled")),
        node("Unsqueeze", Seq("pooled"), Seq("pu"), Seq(attrInts("axes", Seq(0L)))),
        node("Split", Seq("pu"), Seq("pa", "pb"), Seq(attrInt("axis", -1))),
        node("Concat", Seq("pa", "pb"), Seq("pc"), Seq(attrInt("axis", -1))),
        node("Squeeze", Seq("pc"), Seq("ps"), Seq(attrInts("axes", Seq(0L)))),
        node("Mul", Seq("ps", "ps"), Seq("sq")),
        node("ReduceSum", Seq("sq"), Seq("ss2"),
          Seq(attrInts("axes", Seq(0L)), attrInt("keepdims", 0))),
        node("Sqrt", Seq("ss2"), Seq("nr")),
        node("Div", Seq("ps", "nr"), Seq("vec"))),
      inits = weightTensors ++ constTensors,
      input = "ids", output = "vec", extraInputs = Seq("attention_mask"))
  }
}
