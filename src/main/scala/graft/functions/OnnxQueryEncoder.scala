package graft.functions

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.sources.OnnxModel

/** [[QueryEncoder]] backed by a LOCAL ONNX model file — the real
  * `model.encode(query)` replacement for the reference's
  * sentence-transformer call (app.py:169-171), resolved like every
  * encoder through `spark.graft.encoder.class` plus two paths:
  *
  *  - `spark.graft.encoder.onnx.path`  — serialized ONNX ModelProto
  *  - `spark.graft.encoder.onnx.vocab` — token vocabulary, one token
  *    per line; the line number IS the token id (the embedding-table
  *    row the graph's Gather looks up)
  *
  * Tokenization is selected by `spark.graft.encoder.onnx.tokenizer`:
  *
  *  - `regex` (default): the corpus contract (lowercase `[a-z0-9_]+`,
  *    length ≥ 2 — TextRetrieval's sklearn-style tokenizer), so the
  *    query-side tokens line up with any vocabulary fitted from the
  *    corpus. Out-of-vocabulary tokens are dropped (the sklearn
  *    convention).
  *  - `wordpiece`: greedy longest-match-first subword tokenization
  *    ([[WordPiece]]) over the same line-per-token vocab, with `##`
  *    continuations — what a REAL sentence-transformers/MiniLM export
  *    ships beside its weights; the query is wrapped in `[CLS]` /
  *    `[SEP]` when the vocab carries them (the BERT input convention)
  *    and unmatchable words feed `[UNK]`'s id when present, else drop.
  *
  * Either way a query with NO in-vocabulary tokens is a hard error —
  * an all-OOV silent zero-vector would rank the corpus arbitrarily.
  *
  * The parsed graph and vocabulary memoize per (path, vocab) process-
  * wide: encode() runs per query STRING on the driver, and re-parsing
  * a multi-MB weight file per keystroke would dominate serving. No
  * egress anywhere — both artifacts are local files, matching the
  * zero-egress build (real MiniLM weights drop in the day they exist
  * on disk, IF the exported graph stays inside [[OnnxModel]]'s
  * feed-forward op subset; an attention-block export fails fast with
  * the unsupported op's name).
  */
class OnnxQueryEncoder extends QueryEncoder {

  private val conf = SparkSession.active.conf
  private val modelPath = conf.getOption(OnnxQueryEncoder.PathKey).getOrElse(
    throw new IllegalStateException(s"${OnnxQueryEncoder.PathKey} not set"))
  private val vocabPath = conf.getOption(OnnxQueryEncoder.VocabKey).getOrElse(
    throw new IllegalStateException(s"${OnnxQueryEncoder.VocabKey} not set"))

  override def encode(text: String): Array[Float] = {
    val (graph, inputName, auxInputs, vocab) =
      OnnxQueryEncoder.cached(modelPath, vocabPath)
    val ids = conf.get(OnnxQueryEncoder.TokenizerKey, "regex") match {
      case "regex" =>
        OnnxQueryEncoder.tokenRe
          .findAllIn(text.toLowerCase(java.util.Locale.ROOT))
          .filter(_.length >= 2).flatMap(vocab.get).map(_.toFloat).toArray
      case "wordpiece" =>
        val pieces = WordPiece.tokenize(text, vocab)
        // all-[UNK] is the subword spelling of all-OOV — same hard
        // error as the regex path's empty token set
        require(pieces.exists(_ != WordPiece.Unk),
          s"query has no in-vocabulary tokens for the ONNX encoder: '$text'")
        // [UNK] feeds its id when the vocab carries one (BERT keeps
        // unknowns in-band); content pieces are in-vocab by
        // construction of the WordPiece loop
        val body = pieces.flatMap(vocab.get)
        val wrapped = vocab.get("[CLS]").toSeq ++ body ++ vocab.get("[SEP]").toSeq
        wrapped.map(_.toFloat).toArray
      case other => throw new IllegalArgumentException(
        s"${OnnxQueryEncoder.TokenizerKey} must be regex|wordpiece, got '$other'")
    }
    require(ids.nonEmpty,
      s"query has no in-vocabulary tokens for the ONNX encoder: '$text'")
    // transformer exports declare companion inputs beside the token
    // ids: attention_mask (all-ones for a single unpadded query) and
    // token_type_ids (all-zeros, single segment). Feed them by the
    // exporters' conventional names, same length as the ids.
    val aux = auxInputs.map { n =>
      val fill = if (n.toLowerCase(java.util.Locale.ROOT).contains("mask")) 1.0f else 0.0f
      n -> OnnxModel.Tensor(Array(ids.length), Array.fill(ids.length)(fill))
    }.toMap
    OnnxModel.run(graph,
      aux + (inputName -> OnnxModel.Tensor(Array(ids.length), ids))).data
  }
}

object OnnxQueryEncoder {
  val PathKey = "spark.graft.encoder.onnx.path"
  val VocabKey = "spark.graft.encoder.onnx.vocab"
  val TokenizerKey = "spark.graft.encoder.onnx.tokenizer"

  private[functions] val tokenRe = "[a-z0-9_]+".r

  // process-wide memo — encode() is a per-query driver call. Get-then-
  // putIfAbsent: the model parse must not run under the map's bin lock
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (OnnxModel.Graph, String, Seq[String], Map[String, Int])]()

  private def cached(modelPath: String, vocabPath: String)
      : (OnnxModel.Graph, String, Seq[String], Map[String, Int]) =
    Option(memo.get((modelPath, vocabPath))).getOrElse {
      val built = load(modelPath, vocabPath)
      Option(memo.putIfAbsent((modelPath, vocabPath), built)).getOrElse(built)
    }

  private def load(mp: String, vp: String)
      : (OnnxModel.Graph, String, Seq[String], Map[String, Int]) = {
    val g = OnnxModel.load(mp)
    // data inputs = declared inputs that are NOT initializers
    // (exporters list weights under both on old opsets). The token
    // ids input is the one that is not a conventional companion
    // (attention_mask / token_type_ids); companions are auto-fed.
    val dataInputs = g.inputNames.filterNot(g.initializers.contains)
    def isAux(n: String): Boolean = {
      val l = n.toLowerCase(java.util.Locale.ROOT)
      l.contains("mask") || l.contains("token_type") || l.contains("segment")
    }
    val inputName = dataInputs.filterNot(isAux)
      .headOption.getOrElse(throw new IllegalArgumentException(
        s"$mp: graph declares no token-ids data input (inputs: ${dataInputs.mkString(", ")})"))
    val auxInputs = dataInputs.filter(isAux)
    val vocab = scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(Paths.get(vp))).asScala
      .zipWithIndex.map { case (tok, i) => tok.trim -> i }.toMap
    (g, inputName, auxInputs, vocab)
  }
}
