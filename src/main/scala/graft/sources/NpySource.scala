package graft.sources

import java.io.DataOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** NumPy `.npy` interop — the reference's embedding artifacts are
  * side-car NumPy matrices loaded whole with `np.load` (reference
  * app.py:68-70, 93-95: product_embeddings.npy / review_embeddings.npy).
  * This source reads the same files into the engine's embedding frame
  * shape (vec_id, embedding: array<float>) WITHOUT a driver-side blob
  * load: the driver parses only the fixed-size header, then executors
  * seek directly to record-aligned byte ranges through the Hadoop
  * filesystem API — the scan distributes and scales with the matrix,
  * and works against any Hadoop-visible store, not just local disk.
  *
  * Format (public spec, numpy/lib/format.py): magic "\x93NUMPY", one
  * version byte pair, a little-endian header length (2 bytes in v1,
  * 4 in v2+), then a Python-literal dict `{'descr': '<f4',
  * 'fortran_order': False, 'shape': (n, d), }` padded to 64-byte
  * alignment, then the raw little-endian row-major data.
  */
object NpySource {

  /** Parsed header: element descr, shape, and the data byte offset. */
  private[sources] final case class NpyHeader(descr: String, rows: Long, cols: Int,
                                              dataOffset: Long)

  private val DescrRe = "'descr'\\s*:\\s*'([^']+)'".r
  private val OrderRe = "'fortran_order'\\s*:\\s*(True|False)".r
  private val ShapeRe = "'shape'\\s*:\\s*\\((\\d+)\\s*,\\s*(\\d+)\\s*,?\\s*\\)".r

  private[sources] def parseHeader(bytes: Array[Byte]): NpyHeader = {
    require(bytes.length >= 10, "npy file shorter than the fixed preamble")
    val magic = new String(bytes.slice(1, 6), StandardCharsets.US_ASCII)
    require(bytes(0) == 0x93.toByte && magic == "NUMPY", "not a .npy file (bad magic)")
    val major = bytes(6).toInt
    val (hlen, dictStart) = major match {
      case 1 => (ByteBuffer.wrap(bytes, 8, 2).order(ByteOrder.LITTLE_ENDIAN).getShort.toInt & 0xffff, 10)
      case 2 | 3 => (ByteBuffer.wrap(bytes, 8, 4).order(ByteOrder.LITTLE_ENDIAN).getInt, 12)
      case v => throw new IllegalArgumentException(s"unsupported .npy major version $v")
    }
    val dict = new String(bytes.slice(dictStart, dictStart + hlen), StandardCharsets.US_ASCII)
    val descr = DescrRe.findFirstMatchIn(dict).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException(s"no descr in npy header: $dict"))
    require(Set("<f4", "<f8").contains(descr),
      s"unsupported npy descr '$descr' (little-endian f4/f8 only)")
    val fortran = OrderRe.findFirstMatchIn(dict).exists(_.group(1) == "True")
    require(!fortran, "fortran_order npy not supported (row-major expected)")
    val m = ShapeRe.findFirstMatchIn(dict).getOrElse(
      throw new IllegalArgumentException(s"npy shape is not 2-D: $dict"))
    NpyHeader(descr, m.group(1).toLong, m.group(2).toInt, dictStart + hlen)
  }

  /** Read a 2-D `.npy` matrix as (vec_id, embedding) — vec_id is the
    * 0-based row index, matching how the reference addresses the same
    * matrices positionally (`embeddings[idx]`). `<f8` rows are
    * downcast to the engine's float32 embedding convention.
    *
    * Scale shape: `batchRows`-sized record-aligned ranges are
    * parallelized across the cluster; every task opens the file via
    * the Hadoop FS of `path` and reads ONLY its slice (seek + bounded
    * read — no whole-file buffering anywhere). A .npy matrix has no
    * row-group statistics, so there is no pushdown to lose; convert
    * once to parquet ([[Sources.writePartitioned]]) for anything
    * queried repeatedly.
    */
  def readNpy(spark: SparkSession, path: String, batchRows: Int = 65536): DataFrame = {
    import spark.implicits._
    Sources.requireArtifact(spark, path)
    val hadoopPath = new Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val header = {
      val in = fs.open(hadoopPath)
      try {
        // v1 headers are ≤ 64 KiB + 10; one bounded read covers v1/v2
        val buf = new Array[Byte](math.min(fs.getFileStatus(hadoopPath).getLen, 66000L).toInt)
        in.readFully(0L, buf)
        parseHeader(buf)
      } finally in.close()
    }
    val f4 = header.descr == "<f4"
    val rowBytes = header.cols.toLong * (if (f4) 4 else 8)
    val ranges = (0L until header.rows by batchRows.toLong)
      .map(start => (start, math.min(batchRows.toLong, header.rows - start).toInt))
    val pathStr = path
    val cols = header.cols
    val dataOffset = header.dataOffset
    spark.createDataset(ranges)
      .repartition(math.max(1, math.min(ranges.size, spark.sparkContext.defaultParallelism)))
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val p = new Path(pathStr)
          // a fresh default Configuration resolves the same fs.* defaults
          // the cluster ships on every node (file://, hdfs://); this task
          // reads one already-located file, no job-conf overrides needed
          val fsx = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
          val in = fsx.open(p)
          // close on task completion, not on drain — a downstream
          // limit() can abandon the iterator and leak the handle
          Option(org.apache.spark.TaskContext.get())
            .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
          it.flatMap { case (start, count) =>
            val bytes = new Array[Byte]((count * rowBytes).toInt)
            in.readFully(dataOffset + start * rowBytes, bytes)
            val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
            (0 until count).iterator.map { i =>
              val row = new Array[Float](cols)
              if (f4) { var j = 0; while (j < cols) { row(j) = bb.getFloat; j += 1 } }
              else { var j = 0; while (j < cols) { row(j) = bb.getDouble.toFloat; j += 1 } }
              (start + i, row)
            }
          }
        }
      }
      .toDF("vec_id", "embedding")
  }

  /** Export a (vec_id, embedding) frame as a single v1 `.npy` matrix —
    * the interop SINK for handing an artifact back to a NumPy consumer
    * (the reverse of the reference's np.load). A .npy file is one
    * unsplittable blob by definition, so this is a driver-side export
    * for bounded artifacts (centroid tables, query panels — the things
    * the reference stores this way); rows stream through
    * `toLocalIterator` in vec_id order, never a whole-frame collect.
    * Corpus-scale embeddings belong in parquet.
    */
  def writeNpy(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val sorted = df.select("vec_id", "embedding").orderBy("vec_id")
    val n = sorted.count()
    val hadoopPath = new Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = sorted.toLocalIterator()
    val out = new DataOutputStream(fs.create(hadoopPath, true))
    try {
      var dim = -1
      var headerWritten = false
      var written = 0L
      while (it.hasNext) {
        val row = it.next()
        val emb = row.getSeq[Float](1)
        if (!headerWritten) {
          dim = emb.length
          val dict = s"{'descr': '<f4', 'fortran_order': False, 'shape': ($n, $dim), }"
          // pad so the total preamble (10 + hlen) is 64-byte aligned
          val pad = 64 - ((10 + dict.length + 1) % 64)
          val header = dict + (" " * pad) + "\n"
          out.write(0x93); out.write("NUMPY".getBytes(StandardCharsets.US_ASCII))
          out.write(1); out.write(0)
          out.write(header.length & 0xff); out.write((header.length >> 8) & 0xff)
          out.write(header.getBytes(StandardCharsets.US_ASCII))
          headerWritten = true
        }
        require(emb.length == dim, s"ragged embedding at vec_id ${row.getLong(0)}")
        val bb = ByteBuffer.allocate(dim * 4).order(ByteOrder.LITTLE_ENDIAN)
        emb.foreach(bb.putFloat)
        out.write(bb.array())
        written += 1
      }
      if (!headerWritten) {
        // empty frame: still a valid (0, 0) matrix
        val dict = s"{'descr': '<f4', 'fortran_order': False, 'shape': (0, 0), }"
        val pad = 64 - ((10 + dict.length + 1) % 64)
        val header = dict + (" " * pad) + "\n"
        out.write(0x93); out.write("NUMPY".getBytes(StandardCharsets.US_ASCII))
        out.write(1); out.write(0)
        out.write(header.length & 0xff); out.write((header.length >> 8) & 0xff)
        out.write(header.getBytes(StandardCharsets.US_ASCII))
      }
      require(written == n, s"row count changed during export: $written != $n")
    } finally out.close()
  }
}
