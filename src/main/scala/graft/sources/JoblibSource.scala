package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** joblib / pickle interop — the reference persists its fitted sklearn
  * TF-IDF model with `joblib.dump` and serves search from
  * `joblib.load` (reference app.py:76-78: tfidf_vectorizer.joblib,
  * tfidf_matrix.joblib). Those files are pickle protocol-4 streams
  * (public format, CPython `pickletools` + PEP 3154) in which joblib
  * replaces each numpy array with a small pickled
  * `NumpyArrayWrapper` descriptor followed by the raw little-endian
  * array bytes inline in the same stream (public layout,
  * joblib/numpy_pickle.py: an alignment marker byte giving the
  * padding run length, then `prod(shape) * itemsize` bytes).
  *
  * [[Pickle]] is a minimal stack-machine over exactly the opcode
  * subset sklearn/joblib artifacts use — strings, ints, floats,
  * tuples/lists/dicts/sets, memo, STACK_GLOBAL / NEWOBJ / REDUCE /
  * BUILD, and numpy dtype/scalar reconstruction — failing loudly with
  * the stream offset on anything outside it (this is an interop
  * reader for bounded model artifacts, not a general unpickler; it
  * EXECUTES nothing — `REDUCE`/`BUILD` construct inert descriptors,
  * never code). [[JoblibSource]] maps the decoded object graph onto
  * engine-native shapes: the fitted vocabulary/idf as a small
  * DataFrame, the document×term matrix as a distributed COO frame.
  *
  * Model artifacts are driver-parsed whole: they are fixed-size fit
  * products (vocabulary × 8 bytes, nnz × 12 bytes — kilobytes to a
  * few MB), the same bounded-artifact budget as the IVF centroid
  * table, never corpus-scale data.
  */
private[graft] object Pickle {

  /** A resolved `module.name` reference (STACK_GLOBAL). */
  final case class Global(module: String, name: String)

  /** An object built by NEWOBJ/REDUCE: class ref, constructor args,
    * and the BUILD-time state (an attribute dict for sklearn types).
    * `payload` carries the reader's materialized stand-in — the
    * decoded [[NpArray]] for joblib array wrappers, the descr string
    * for numpy dtypes.
    */
  final class Obj(val cls: Global, val args: Any) {
    var state: Any = null
    var payload: Any = null
    def attrs: mutable.LinkedHashMap[Any, Any] = state match {
      case m: mutable.LinkedHashMap[Any @unchecked, Any @unchecked] => m
      case other => throw new IllegalStateException(
        s"${cls.module}.${cls.name} has non-dict state: $other")
    }
    def attr(name: String): Any = attrs.getOrElse(name,
      throw new NoSuchElementException(
        s"${cls.module}.${cls.name} has no attribute '$name' (have: ${attrs.keys.mkString(", ")})"))
  }

  /** A raw numpy array: little-endian typed bytes + shape. */
  final case class NpArray(descr: String, shape: Seq[Long], data: Array[Byte]) {
    private def elems: Int = shape.product.toInt
    private def buf: ByteBuffer = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    def toDoubles: Array[Double] = descr match {
      case "<f8" => val a = new Array[Double](elems); buf.asDoubleBuffer.get(a); a
      case "<f4" => val b = buf.asFloatBuffer; Array.tabulate(elems)(i => b.get(i).toDouble)
      case d => throw new IllegalArgumentException(s"not a float array: $d")
    }
    def toInts: Array[Int] = descr match {
      case "<i4" => val a = new Array[Int](elems); buf.asIntBuffer.get(a); a
      case "<i8" => val b = buf.asLongBuffer; Array.tabulate(elems) { i =>
        val v = b.get(i); require(v >= Int.MinValue && v <= Int.MaxValue, s"i8 overflows int: $v"); v.toInt
      }
      case d => throw new IllegalArgumentException(s"not an int array: $d")
    }
  }

  /** Normalize a dtype name to its `<`-prefixed descr. numpy pickles
    * the dtype via `dtype('i4')` + a BUILD state whose second element
    * is the byte order — validated separately in [[parse]]'s build;
    * everything this reader accepts is little-endian (or byte-order-
    * free single bytes).
    */
  private def normDescr(d: String): String =
    if (d.startsWith("<") || d.startsWith("|")) d
    else if (d.startsWith(">") || d.startsWith("=")) throw new IllegalArgumentException(
      s"unsupported numpy byte order in descr '$d' (little-endian only)")
    else "<" + d

  private def itemSize(descr: String): Int = normDescr(descr) match {
    case "<f8" | "<i8" => 8
    case "<f4" | "<i4" => 4
    case "<i2" => 2
    case "<i1" | "|i1" | "|u1" | "|b1" => 1
    case d => throw new IllegalArgumentException(s"unsupported numpy descr '$d'")
  }

  /** Decode one pickle stream (with joblib's inline array payloads)
    * into an object graph of Scala values: String / Long / Double /
    * Boolean / null / Vector (tuples) / ArrayBuffer (lists) /
    * LinkedHashMap (dicts) / LinkedHashSet (sets) / [[Obj]] /
    * [[NpArray]].
    */
  def parse(bytes: Array[Byte]): Any = {
    var pos = 0
    val stack = mutable.ArrayBuffer.empty[Any]
    val marks = mutable.ArrayBuffer.empty[Int]
    val memo = mutable.ArrayBuffer.empty[Any]

    def u8(): Int = { val v = bytes(pos) & 0xff; pos += 1; v }
    def u16(): Int = { val v = (bytes(pos) & 0xff) | ((bytes(pos + 1) & 0xff) << 8); pos += 2; v }
    def i32(): Int = {
      val v = ByteBuffer.wrap(bytes, pos, 4).order(ByteOrder.LITTLE_ENDIAN).getInt; pos += 4; v
    }
    def i64(): Long = {
      val v = ByteBuffer.wrap(bytes, pos, 8).order(ByteOrder.LITTLE_ENDIAN).getLong; pos += 8; v
    }
    def take(n: Int): Array[Byte] = {
      val a = java.util.Arrays.copyOfRange(bytes, pos, pos + n); pos += n; a
    }
    def utf8(n: Int): String = new String(take(n), StandardCharsets.UTF_8)
    def popToMark(): Seq[Any] = {
      val m = marks.remove(marks.length - 1)
      val items = stack.slice(m, stack.length).toVector
      stack.remove(m, stack.length - m)
      items
    }
    def scalarOf(descr: String, raw: Array[Byte]): Any = {
      val b = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
      normDescr(descr) match {
        case "<i8" => b.getLong
        case "<i4" => b.getInt.toLong
        case "<i2" => b.getShort.toLong
        case "<f8" => b.getDouble
        case "<f4" => b.getFloat.toDouble
        case d => throw new IllegalArgumentException(s"unsupported scalar dtype '$d'")
      }
    }
    def reduceCall(f: Any, args: Any): Any = f match {
      case Global(m, "dtype") if m.startsWith("numpy") =>
        val o = new Obj(Global(m, "dtype"), args)
        o.payload = args.asInstanceOf[Vector[Any]].head // the descr string
        o
      case Global(m, "scalar") if m.startsWith("numpy") =>
        val a = args.asInstanceOf[Vector[Any]]
        val descr = a(0).asInstanceOf[Obj].payload.asInstanceOf[String]
        scalarOf(descr, a(1).asInstanceOf[Array[Byte]])
      case g: Global => new Obj(g, args)
      case other => throw new IllegalArgumentException(s"REDUCE of non-global $other")
    }
    def descrOf(dtype: Any): String = dtype match {
      case o: Obj => o.payload.asInstanceOf[String]
      case s: String => s
      case other => throw new IllegalArgumentException(s"unexpected dtype rep $other")
    }
    def build(target: Any, state: Any): Unit = target match {
      case o: Obj if o.cls.name == "NumpyArrayWrapper" =>
        o.state = state
        val st = o.attrs
        // joblib numpy_pickle alignment framing: one marker byte N,
        // then N padding bytes, then the raw C-order array data
        if (st.get("numpy_array_alignment_bytes").exists(_ != null)) {
          val pad = u8(); pos += pad
        }
        val descr = descrOf(o.attr("dtype"))
        val shape = o.attr("shape").asInstanceOf[Vector[Any]].map(_.asInstanceOf[Long])
        require(o.attr("order") == "C", s"fortran-order array in joblib stream")
        val n = (shape.product * itemSize(descr)).toInt
        o.payload = NpArray(normDescr(descr), shape, take(n))
      case o: Obj if o.cls.name == "dtype" =>
        // numpy dtype state: (version, byteorder, subdescr, names, …) —
        // the byte order lives here, not in the constructor arg
        state match {
          case v: Vector[Any @unchecked] if v.length >= 2 =>
            require(v(1) == "<" || v(1) == "|" || v(1) == "=",
              s"big-endian numpy dtype in stream: ${v(1)}")
          case _ => ()
        }
      case o: Obj => o.state = state
      case other => throw new IllegalArgumentException(s"BUILD on non-object $other")
    }

    while (true) {
      val opPos = pos
      val op = u8()
      op match {
        case 0x80 => pos += 1 // PROTO
        case 0x95 => pos += 8 // FRAME (length ignored; stream is linear)
        case 0x2e => // STOP
          require(stack.length == 1, s"pickle stack not singular at STOP: ${stack.length}")
          return stack.remove(0)
        case 0x28 => marks += stack.length // MARK
        case 0x29 => stack += Vector.empty // EMPTY_TUPLE
        case 0x7d => stack += mutable.LinkedHashMap.empty[Any, Any] // EMPTY_DICT
        case 0x5d => stack += mutable.ArrayBuffer.empty[Any] // EMPTY_LIST
        case 0x8f => stack += mutable.LinkedHashSet.empty[Any] // EMPTY_SET
        case 0x4e => stack += null // NONE
        case 0x88 => stack += true // NEWTRUE
        case 0x89 => stack += false // NEWFALSE
        case 0x4b => stack += u8().toLong // BININT1
        case 0x4d => stack += u16().toLong // BININT2
        case 0x4a => stack += i32().toLong // BININT
        case 0x8a => // LONG1
          val n = u8()
          require(n <= 8, s"LONG1 wider than 8 bytes at $opPos")
          val raw = take(n)
          var v = 0L
          var i = n - 1
          while (i >= 0) { v = (v << 8) | (raw(i) & 0xffL); i -= 1 }
          if (n > 0 && (raw(n - 1) & 0x80) != 0 && n < 8) v -= (1L << (8 * n))
          stack += v
        case 0x47 => // BINFLOAT (big-endian double)
          val v = ByteBuffer.wrap(bytes, pos, 8).order(ByteOrder.BIG_ENDIAN).getDouble
          pos += 8; stack += v
        case 0x8c => stack += utf8(u8()) // SHORT_BINUNICODE
        case 0x58 => stack += utf8(i32()) // BINUNICODE
        case 0x43 => stack += take(u8()) // SHORT_BINBYTES
        case 0x42 => stack += take(i32()) // BINBYTES
        case 0x94 => memo += stack.last // MEMOIZE
        case 0x68 => stack += memo(u8()) // BINGET
        case 0x6a => stack += memo(i32()) // LONG_BINGET
        case 0x93 => // STACK_GLOBAL
          val name = stack.remove(stack.length - 1).asInstanceOf[String]
          val module = stack.remove(stack.length - 1).asInstanceOf[String]
          stack += Global(module, name)
        case 0x81 => // NEWOBJ
          val args = stack.remove(stack.length - 1)
          val cls = stack.remove(stack.length - 1).asInstanceOf[Global]
          stack += new Obj(cls, args)
        case 0x52 => // REDUCE
          val args = stack.remove(stack.length - 1)
          val f = stack.remove(stack.length - 1)
          stack += reduceCall(f, args)
        case 0x62 => // BUILD
          val state = stack.remove(stack.length - 1)
          build(stack.last, state)
        case 0x85 => // TUPLE1
          val a = stack.remove(stack.length - 1); stack += Vector(a)
        case 0x86 => // TUPLE2
          val b = stack.remove(stack.length - 1); val a = stack.remove(stack.length - 1)
          stack += Vector(a, b)
        case 0x87 => // TUPLE3
          val c = stack.remove(stack.length - 1); val b = stack.remove(stack.length - 1)
          val a = stack.remove(stack.length - 1); stack += Vector(a, b, c)
        case 0x74 => stack += popToMark().toVector // TUPLE
        case 0x65 => // APPENDS
          val items = popToMark()
          stack.last.asInstanceOf[mutable.ArrayBuffer[Any]] ++= items
        case 0x61 => // APPEND
          val v = stack.remove(stack.length - 1)
          stack.last.asInstanceOf[mutable.ArrayBuffer[Any]] += v
        case 0x75 => // SETITEMS
          val items = popToMark()
          val d = stack.last.asInstanceOf[mutable.LinkedHashMap[Any, Any]]
          items.grouped(2).foreach { kv => d(kv(0)) = kv(1) }
        case 0x73 => // SETITEM
          val v = stack.remove(stack.length - 1)
          val k = stack.remove(stack.length - 1)
          stack.last.asInstanceOf[mutable.LinkedHashMap[Any, Any]](k) = v
        case 0x90 => // ADDITEMS
          val items = popToMark()
          stack.last.asInstanceOf[mutable.LinkedHashSet[Any]] ++= items
        case other => throw new IllegalArgumentException(
          f"unsupported pickle opcode 0x$other%02x at offset $opPos (bounded sklearn/joblib subset)")
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object JoblibSource {

  import Pickle._

  /** The fitted TfidfVectorizer, decoded to what the transform path
    * needs: index-ordered vocabulary, idf weights (read from the
    * `_idf_diag` sparse diagonal), and the analyzer/weighting
    * parameters the engine must honor (or refuse).
    */
  final case class TfidfVectorizerModel(
      vocabulary: Array[String],
      idf: Array[Double],
      lowercase: Boolean,
      tokenPattern: String,
      stopWords: String,
      norm: String,
      smoothIdf: Boolean,
      sublinearTf: Boolean,
      ngramRange: (Int, Int),
      sklearnVersion: String) {
    def nFeatures: Int = vocabulary.length
    lazy val termIndex: Map[String, Int] = vocabulary.zipWithIndex.toMap
  }

  /** A scipy CSR matrix decoded whole (bounded fit artifact). */
  final case class CsrMatrix(rows: Int, cols: Int, indptr: Array[Int],
                             indices: Array[Int], data: Array[Double])

  private def readAll(spark: SparkSession, path: String): Array[Byte] = {
    Sources.requireArtifact(spark, path)
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(hp).getLen
    require(len <= (64L << 20), s"joblib artifact $path is ${len} bytes — model artifacts " +
      "are bounded fit products; corpus-scale data belongs in parquet")
    val in = fs.open(hp)
    try { val a = new Array[Byte](len.toInt); in.readFully(0L, a); a } finally in.close()
  }

  private def csrOf(o: Obj): CsrMatrix = {
    require(o.cls.name == "csr_matrix", s"expected csr_matrix, got ${o.cls.name}")
    val shape = o.attr("_shape").asInstanceOf[Vector[Any]].map(_.asInstanceOf[Long])
    def arr(name: String): NpArray =
      o.attr(name).asInstanceOf[Obj].payload.asInstanceOf[NpArray]
    val m = CsrMatrix(shape(0).toInt, shape(1).toInt,
      arr("indptr").toInts, arr("indices").toInts, arr("data").toDoubles)
    require(m.indptr.length == m.rows + 1,
      s"csr indptr length ${m.indptr.length} != rows+1 ${m.rows + 1}")
    require(m.indptr.last == m.indices.length && m.indices.length == m.data.length,
      s"csr nnz mismatch: indptr ends ${m.indptr.last}, ${m.indices.length} indices, " +
        s"${m.data.length} values")
    m
  }

  /** Decode `tfidf_vectorizer.joblib` (reference app.py:77). The idf
    * vector is read off `_tfidf._idf_diag` — sklearn stores it as a
    * CSR diagonal, validated here to BE the identity-sparsity
    * diagonal. The vocabulary dict (term → numpy int64 index) is
    * validated to be a contiguous 0..n-1 indexing before it is laid
    * out index-ordered.
    */
  def readTfidfVectorizer(spark: SparkSession, path: String): TfidfVectorizerModel = {
    val root = parse(readAll(spark, path)).asInstanceOf[Obj]
    require(root.cls.name == "TfidfVectorizer",
      s"expected a pickled TfidfVectorizer, got ${root.cls.module}.${root.cls.name}")
    val vocabMap = root.attr("vocabulary_").asInstanceOf[mutable.LinkedHashMap[Any, Any]]
    val vocab = new Array[String](vocabMap.size)
    vocabMap.foreach { case (term, idx) =>
      val i = idx.asInstanceOf[Long].toInt
      require(i >= 0 && i < vocab.length && vocab(i) == null,
        s"vocabulary_ is not a contiguous 0..n-1 indexing at '$term' -> $i")
      vocab(i) = term.asInstanceOf[String]
    }
    val tfidf = root.attr("_tfidf").asInstanceOf[Obj]
    val diag = csrOf(tfidf.attr("_idf_diag").asInstanceOf[Obj])
    require(diag.rows == vocab.length && diag.cols == vocab.length,
      s"_idf_diag shape ${diag.rows}x${diag.cols} != vocabulary ${vocab.length}")
    require(diag.indices.zipWithIndex.forall { case (c, i) => c == i },
      "_idf_diag is not a diagonal matrix")
    val ngr = root.attr("ngram_range").asInstanceOf[Vector[Any]].map(_.asInstanceOf[Long].toInt)
    TfidfVectorizerModel(
      vocabulary = vocab,
      idf = diag.data,
      lowercase = root.attr("lowercase").asInstanceOf[Boolean],
      tokenPattern = root.attr("token_pattern").asInstanceOf[String],
      stopWords = Option(root.attr("stop_words")).map(_.asInstanceOf[String]).getOrElse(""),
      norm = root.attr("norm").asInstanceOf[String],
      smoothIdf = root.attr("smooth_idf").asInstanceOf[Boolean],
      sublinearTf = root.attr("sublinear_tf").asInstanceOf[Boolean],
      ngramRange = (ngr(0), ngr(1)),
      sklearnVersion = root.attr("_sklearn_version").asInstanceOf[String])
  }

  /** Decode `tfidf_matrix.joblib` (reference app.py:78) — the fitted
    * document×term matrix as a CSR triple.
    */
  def readCsrMatrix(spark: SparkSession, path: String): CsrMatrix =
    csrOf(parse(readAll(spark, path)).asInstanceOf[Obj])

  /** The CSR matrix as a distributed COO frame (row_id, col_id,
    * value) — the engine-native shape: scoring joins it against a
    * broadcast query vector and aggregates per row, so the matrix
    * side partitions and the work scales with nnz, never rows×cols.
    */
  def csrCoo(spark: SparkSession, m: CsrMatrix): DataFrame = {
    import spark.implicits._
    val coo = for {
      r <- (0 until m.rows).iterator
      j <- (m.indptr(r) until m.indptr(r + 1)).iterator
    } yield (r.toLong, m.indices(j).toLong, m.data(j))
    coo.toSeq.toDF("row_id", "col_id", "value")
  }

  /** The fitted vocabulary as a frame: (term_id, term, idf). */
  def vocabDF(spark: SparkSession, model: TfidfVectorizerModel): DataFrame = {
    import spark.implicits._
    model.vocabulary.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, model.idf(i))
    }.toSeq.toDF("term_id", "term", "idf")
  }
}
