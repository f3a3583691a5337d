package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** FAISS `IndexFlat` interop — the reference serves its product search
  * from prebuilt FAISS artifacts loaded with `faiss.read_index`
  * (reference app.py:75-80: faiss_products_flat.index,
  * faiss_reviews_ivf.index). This source reads the FLAT family
  * (IndexFlatIP / IndexFlatL2 — a small header over contiguous
  * row-major float32 vectors, the exact payload of the matching
  * `.npy` matrix) into the engine's (vec_id, embedding) frame shape,
  * with the same distributed byte-range scan as [[NpySource]]: the
  * driver parses only the fixed 45-byte header, executors seek
  * record-aligned slices through the Hadoop FS API.
  *
  * Format (public, faiss/impl/index_write.cpp `write_index` +
  * `write_index_header`): fourcc "IxFI" (inner-product) or "IxF2"
  * (L2), d int32, ntotal int64, two reserved int64 (1<<20 in every
  * release), is_trained uint8, metric_type int32, then the code
  * vector's element count as uint64 followed by ntotal*d
  * little-endian float32 values. Quantized/IVF families ("IwFl",
  * "IvPQ", …) carry trained state beyond a flat payload and are
  * rejected with a clear message — the engine BUILDS its own analogs
  * of those ([[graft.operators.Ivf]], [[graft.operators.Quantized]]).
  */
object FaissSource {

  /** Parsed IndexFlat header: metric ("ip"/"l2"), dims, rows, and the
    * byte offset where the float payload starts (always 45).
    */
  private[sources] final case class FlatHeader(metric: String, dim: Int, rows: Long,
                                               dataOffset: Long)

  private[sources] def parseHeader(bytes: Array[Byte]): FlatHeader = {
    require(bytes.length >= 45, "faiss index shorter than the IndexFlat preamble")
    val fourcc = new String(bytes.slice(0, 4), StandardCharsets.US_ASCII)
    require(fourcc == "IxFI" || fourcc == "IxF2",
      s"unsupported faiss index type '$fourcc' (IndexFlat IP/L2 only; " +
        "IVF/PQ artifacts carry trained state — rebuild with the engine's Ivf/Quantized ops)")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    bb.position(4)
    val d = bb.getInt
    val ntotal = bb.getLong
    bb.getLong; bb.getLong // reserved (1 << 20 in every faiss release)
    bb.get // is_trained — a flat index is always trained
    bb.getInt // metric_type — redundant with the fourcc for the flat family
    val nFloats = bb.getLong
    require(d > 0 && ntotal >= 0, s"implausible faiss header: d=$d ntotal=$ntotal")
    require(nFloats == ntotal * d,
      s"faiss payload count $nFloats != ntotal*d = ${ntotal * d} (truncated file?)")
    FlatHeader(if (fourcc == "IxFI") "ip" else "l2", d, ntotal, 45L)
  }

  /** Parsed IndexIVFFlat file: dims, the trained coarse quantizer's
    * centroids (driver-resident — nlist × dim floats, the same bounded
    * driver artifact as the engine's own IVF probe planning), per-list
    * row counts, and the byte offset where the inverted lists start.
    * List i's payload is `sizes(i)` code rows (dim × 4 bytes each)
    * followed by `sizes(i)` int64 ids.
    */
  private[graft] final case class IvfHeader(metric: String, dim: Int, rows: Long,
                                            nlist: Int, centroids: Array[Array[Float]],
                                            listSizes: Array[Long], listsBase: Long) {
    // cumulative code-block offsets, built once — listOffset is called
    // per list during task planning, and a per-call prefix sum would
    // make planning O(nlist²) on the driver
    private lazy val cumOffsets: Array[Long] = {
      val a = new Array[Long](nlist + 1)
      var i = 0
      while (i < nlist) { a(i + 1) = a(i) + listSizes(i) * (dim.toLong * 4 + 8); i += 1 }
      a
    }
    /** Byte offset of list `i`'s code block. */
    def listOffset(i: Int): Long = listsBase + cumOffsets(i)
  }

  /** Parse an IndexIVFFlat ("IwFl") header + embedded quantizer +
    * inverted-list directory. Format (public,
    * faiss/impl/index_write.cpp `write_ivf_header` +
    * `write_InvertedLists`): the flat header fields as in
    * [[parseHeader]], then nlist u64 and nprobe u64, an EMBEDDED
    * IndexFlat (the trained coarse quantizer, nlist rows), a direct
    * map (type u8 = 0 NoMap + empty u64-prefixed array), then "ilar"
    * + nlist u64 + code_size u64 + "full" + the u64-prefixed sizes
    * vector, and per list its codes then its ids.
    */
  private[graft] def readIvfHeader(spark: SparkSession, path: String): IvfHeader = {
    Sources.requireArtifact(spark, path)
    val hadoopPath = new Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(hadoopPath)
    try {
      def bytesAt(off: Long, n: Int): Array[Byte] = {
        val a = new Array[Byte](n); in.readFully(off, a); a
      }
      def bb(off: Long, n: Int): ByteBuffer =
        ByteBuffer.wrap(bytesAt(off, n)).order(ByteOrder.LITTLE_ENDIAN)
      val head = bb(0L, 0x35)
      val fourcc = new String(bytesAt(0L, 4), StandardCharsets.US_ASCII)
      require(fourcc == "IwFl",
        s"unsupported faiss index type '$fourcc' (IndexIVFFlat reader; flat files go " +
          "through readFlat)")
      head.position(4)
      val d = head.getInt
      val ntotal = head.getLong
      head.getLong; head.getLong // reserved
      head.get // is_trained
      head.getInt // metric_type
      val nlist = head.getLong.toInt
      head.getLong // stored default nprobe — callers pick their own
      // embedded coarse quantizer: a complete IndexFlat of nlist rows
      val qcc = new String(bytesAt(0x35L, 4), StandardCharsets.US_ASCII)
      require(qcc == "IxFI" || qcc == "IxF2", s"unexpected quantizer fourcc '$qcc'")
      val qh = bb(0x35L + 4, 41)
      val qd = qh.getInt
      val qn = qh.getLong
      qh.getLong; qh.getLong; qh.get; qh.getInt
      val qCount = qh.getLong
      require(qd == d && qn == nlist && qCount == nlist.toLong * d,
        s"quantizer shape mismatch: d=$qd n=$qn count=$qCount vs d=$d nlist=$nlist")
      val qData = 0x35L + 45
      val cb = bb(qData, nlist * d * 4)
      val centroids = Array.fill(nlist) {
        val row = new Array[Float](d)
        var j = 0; while (j < d) { row(j) = cb.getFloat; j += 1 }
        row
      }
      var o = qData + nlist.toLong * d * 4
      val dmType = bytesAt(o, 1)(0)
      require(dmType == 0, s"direct map type $dmType not supported (NoMap only)")
      val dmLen = bb(o + 1, 8).getLong
      require(dmLen == 0, s"non-empty direct map ($dmLen) not supported")
      o += 9
      require(new String(bytesAt(o, 4), StandardCharsets.US_ASCII) == "ilar",
        "expected ArrayInvertedLists ('ilar')")
      val il = bb(o + 4, 16)
      val ilNlist = il.getLong
      val codeSize = il.getLong
      require(ilNlist == nlist && codeSize == d.toLong * 4,
        s"inverted-list shape mismatch: nlist=$ilNlist codeSize=$codeSize")
      o += 20
      require(new String(bytesAt(o, 4), StandardCharsets.US_ASCII) == "full",
        "expected 'full' inverted-list storage")
      val nsz = bb(o + 4, 8).getLong.toInt
      require(nsz == nlist, s"sizes vector length $nsz != nlist $nlist")
      val sb = bb(o + 12, nlist * 8)
      val sizes = Array.fill(nlist)(sb.getLong)
      require(sizes.sum == ntotal, s"list sizes sum ${sizes.sum} != ntotal $ntotal")
      IvfHeader(if (qcc == "IxFI") "ip" else "l2", d, ntotal, nlist, centroids,
        sizes, o + 12 + nlist.toLong * 8)
    } finally in.close()
  }

  /** Read an IndexIVFFlat's inverted lists as (cell, vec_id,
    * embedding) — optionally ONLY the given cells, in which case the
    * scan touches exactly those lists' byte ranges (the byte-level
    * analog of the engine's own cell-partition pruning: an nprobe
    * search reads nprobe/nlist of the file). One task per (cell,
    * `batchRows` range); ids and codes are seeked independently, so
    * no task buffers more than a batch.
    */
  def readIvfLists(spark: SparkSession, path: String, cells: Option[Seq[Int]] = None,
                   batchRows: Int = 65536): DataFrame = {
    import spark.implicits._
    val h = readIvfHeader(spark, path)
    val wanted = cells.map(_.toSet)
    val dim = h.dim
    val rowBytes = dim.toLong * 4
    val tasks = for {
      c <- (0 until h.nlist) if wanted.forall(_.contains(c))
      listOff = h.listOffset(c)
      idsOff = listOff + h.listSizes(c) * rowBytes
      start <- 0L until math.max(h.listSizes(c), 1L) by batchRows.toLong
      if h.listSizes(c) > 0
    } yield (c, listOff + start * rowBytes, idsOff + start * 8,
      math.min(batchRows.toLong, h.listSizes(c) - start).toInt)
    val pathStr = path
    spark.createDataset(tasks)
      .repartition(math.max(1, math.min(tasks.size, spark.sparkContext.defaultParallelism)))
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val p = new Path(pathStr)
          val fsx = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
          val in = fsx.open(p)
          // a downstream limit() can drop the iterator before exhaustion,
          // so the handle must close on task completion, not on drain
          Option(org.apache.spark.TaskContext.get())
            .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
          it.flatMap { case (cell, codeOff, idOff, count) =>
            val codes = new Array[Byte]((count * rowBytes).toInt)
            in.readFully(codeOff, codes)
            val ids = new Array[Byte](count * 8)
            in.readFully(idOff, ids)
            val cb = ByteBuffer.wrap(codes).order(ByteOrder.LITTLE_ENDIAN)
            val ib = ByteBuffer.wrap(ids).order(ByteOrder.LITTLE_ENDIAN)
            (0 until count).iterator.map { _ =>
              val row = new Array[Float](dim)
              var j = 0; while (j < dim) { row(j) = cb.getFloat; j += 1 }
              (cell, ib.getLong, row)
            }
          }
        }
      }
      .toDF("cell", "vec_id", "embedding")
  }

  /** Read a FAISS IndexFlat file as (vec_id, embedding) — vec_id is
    * the 0-based insertion index, exactly how the reference maps FAISS
    * result ids back to product rows. Same scale shape as
    * [[NpySource.readNpy]]: record-aligned `batchRows` ranges
    * parallelized across the cluster, each task seeking only its
    * slice — no whole-file buffering anywhere.
    */
  def readFlat(spark: SparkSession, path: String, batchRows: Int = 65536): DataFrame = {
    import spark.implicits._
    Sources.requireArtifact(spark, path)
    val hadoopPath = new Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val header = {
      val in = fs.open(hadoopPath)
      try {
        val buf = new Array[Byte](math.min(fs.getFileStatus(hadoopPath).getLen, 45L).toInt)
        in.readFully(0L, buf)
        parseHeader(buf)
      } finally in.close()
    }
    val rowBytes = header.dim.toLong * 4
    val ranges = (0L until header.rows by batchRows.toLong)
      .map(start => (start, math.min(batchRows.toLong, header.rows - start).toInt))
    val pathStr = path
    val cols = header.dim
    val dataOffset = header.dataOffset
    spark.createDataset(ranges)
      .repartition(math.max(1, math.min(ranges.size, spark.sparkContext.defaultParallelism)))
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val p = new Path(pathStr)
          val fsx = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
          val in = fsx.open(p)
          // close on task completion: a limit() may never drain the iterator
          Option(org.apache.spark.TaskContext.get())
            .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
          it.flatMap { case (start, count) =>
            val bytes = new Array[Byte]((count * rowBytes).toInt)
            in.readFully(dataOffset + start * rowBytes, bytes)
            val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
            (0 until count).iterator.map { i =>
              val row = new Array[Float](cols)
              var j = 0; while (j < cols) { row(j) = bb.getFloat; j += 1 }
              (start + i, row)
            }
          }
        }
      }
      .toDF("vec_id", "embedding")
  }
}
