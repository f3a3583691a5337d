package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.parquet.schema.Type.Repetition.REPEATED
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{Row, SparkSession}

/** Driver keyed reads of a parquet table: the rows whose key column
  * (int64 or string) is in a key set, served without a Spark job. Two
  * callers: the member lookup of every by-id search (`vec_id` →
  * `embedding`) and the keyword legs of the free-text hybrids (a query's
  * `term` → its postings in the TF-IDF model's `w` or `tf`).
  *
  * A Spark lookup costs a job (about 20 ms warm on 4 cores, most of it
  * fixed per job), for a read that touches a few row groups. Here the
  * driver reads them itself with parquet-mr's column readers.
  *
  * The row groups come from the table's zone map for the key column:
  * every file's row-group key min/max, read once from the footers and
  * kept in [[DriverMemo]] under the table's mtime, so a rewritten table
  * rebuilds it. Driver memory is O(row groups) per (table, key column):
  * the footers and one range each. Inside a row group the read goes
  * through parquet-mr's page-index filtering: an `in(key, keys)` filter
  * against the column index leaves only the pages that can hold a key,
  * and only those are decompressed and decoded (a file written without
  * a page index, as pyarrow writes by default, is decoded whole per
  * row group). Every column reader then walks the same surviving rows:
  * the key column finds the matches, and the other requested columns
  * materialize only theirs (the rest are skipped value by value, which
  * keeps the readers aligned).
  *
  * Cost of a read: O(matching rows + the pages of the covering row
  * groups that can hold a key). For postings sorted by term inside each
  * file, that is O(postings of the query terms + one page run per
  * covering row group).
  *
  * The rules: a key whose range matches no row group is absent (no read
  * at all). A `spanning` read (postings: one term's rows legitimately
  * span row groups) reads every covering row group. A non-spanning read
  * (members) reads the one covering row group of each key and leaves
  * the lookup to Spark when a key has more than one (overlapping files,
  * a row group without statistics next to others). A table this reader
  * does not cover leaves the lookup to Spark too: a partitioned
  * directory, a key column that is not int64 or string, a requested
  * column that is not a plain int, long, float, double, boolean or
  * string, or a list of float.
  */
object PointRead {

  /** Row group `group` of file `file` holds keys in [lo, hi] under
    * `cmp`; no statistics (lo null) covers every key. */
  private final case class Zone(file: Int, group: Int, lo: Any, hi: Any,
                                cmp: java.util.Comparator[Any]) {
    def covers(k: Any): Boolean = lo == null || (cmp.compare(lo, k) <= 0 && cmp.compare(k, hi) <= 0)
  }

  /** One file's footer, with the length and mtime it was read at. */
  private final case class Part(path: Path, len: Long, mtime: Long, footer: ParquetMetadata)

  /** A table's zone map over one key column of primitive type `kind`. */
  private final case class Zones(parts: IndexedSeq[Part], kind: PrimitiveType.PrimitiveTypeName,
                                 zones: IndexedSeq[Zone])

  /** The (vec_id, embedding) rows of `ids` in the parquet table at
    * `path`, in file order, or None when the zone map leaves an id more
    * than one candidate row group (the caller then asks Spark). A row's
    * `embedding` is null for a null list and holds null for a null
    * element, as a collected Spark row would.
    */
  def members(spark: SparkSession, path: String, ids: Seq[Long]): Option[Seq[Row]] =
    rows(spark, path, "vec_id", ids, Seq("vec_id", "embedding"), spanning = false)

  /** The `columns` of the rows of the parquet table at `path` whose
    * `key` column (int64: `keys` are Longs; string: Strings) is in
    * `keys`, in file and row order, as a collected Spark row holds them;
    * or None when the lookup is Spark's (see the rules above). No key:
    * no read.
    */
  def rows(spark: SparkSession, path: String, key: String, keys: Seq[Any], columns: Seq[String],
           spanning: Boolean): Option[Seq[Row]] =
    if (keys.isEmpty) Some(Nil)
    else zoneMap(spark, path, key).flatMap { zm =>
      val wanted = keys.distinct.map(toParquet(zm.kind, _))
      val hits = wanted.map(k => zm.zones.filter(_.covers(k)))
      val projections = zm.parts.map(p => projection(p.footer.getFileMetaData.getSchema, columns))
      if ((!spanning && hits.exists(_.size > 1)) || projections.exists(_.isEmpty)) None
      else {
        val filter = inFilter(zm.kind, key, wanted)
        val read = hits.flatten.distinct.groupBy(_.file).toSeq.sortBy(_._1).map { case (f, zs) =>
          this.read(spark, zm.parts(f), zs.map(_.group).sorted, projections(f).get, key,
            wanted.toSet, filter)
        }
        if (read.forall(_.isDefined)) Some(read.flatMap(_.get))
        else {
          // a file changed under an unchanged table mtime (rewritten in
          // place): rebuild the zone maps next time, ask Spark now
          DriverMemo.invalidate(spark, s"$path#zones")
          None
        }
      }
    }

  /** A key as parquet compares it: a Long for int64, UTF-8 bytes for a string. */
  private def toParquet(kind: PrimitiveType.PrimitiveTypeName, k: Any): Any = (kind, k) match {
    case (INT64, l: Long) => java.lang.Long.valueOf(l)
    case (BINARY, s: String) => Binary.fromString(s)
    case _ => throw new IllegalArgumentException(s"key $k does not match a $kind key column")
  }

  private def inFilter(kind: PrimitiveType.PrimitiveTypeName, key: String,
                       keys: Seq[Any]): FilterPredicate = kind match {
    case INT64 => FilterApi.in[java.lang.Long, Operators.LongColumn](FilterApi.longColumn(key),
      keys.map(_.asInstanceOf[java.lang.Long]).toSet.asJava)
    case _ => FilterApi.in[Binary, Operators.BinaryColumn](FilterApi.binaryColumn(key),
      keys.map(_.asInstanceOf[Binary]).toSet.asJava)
  }

  private def zoneMap(spark: SparkSession, path: String, key: String): Option[Zones] =
    DriverMemo.memo(spark, s"$path#zones:$key", IndexStore.mtime(spark, path))(build(spark, path, key))

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** `t` as a key column: int64 or string, top-level and not repeated. */
  private def keyKind(t: Type): Option[PrimitiveType.PrimitiveTypeName] =
    Some(t).filter(t => t.isPrimitive && !t.isRepetition(REPEATED)).map(_.asPrimitiveType)
      .filter(p => decoder(p).isDefined).map(_.getPrimitiveTypeName)
      .filter(k => k == INT64 || k == BINARY)

  private def build(spark: SparkSession, path: String, key: String): Option[Zones] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      val st = fs.getFileStatus(root)
      val leaves =
        if (st.isDirectory) fs.listStatus(root).filterNot(s => hidden(s.getPath.getName))
        else Array(st)
      if (leaves.exists(_.isDirectory)) None
      else {
        val parts = leaves.sortBy(_.getPath.toString).toIndexedSeq.map { s =>
          Part(s.getPath, s.getLen, s.getModificationTime, ParquetFileReader.readFooter(
            HadoopInputFile.fromStatus(s, conf), ParquetMetadataConverter.NO_FILTER))
        }
        val kinds = parts.map { p =>
          val schema = p.footer.getFileMetaData.getSchema
          if (schema.containsField(key)) keyKind(schema.getType(schema.getFieldIndex(key))) else None
        }.distinct
        if (kinds.size != 1 || kinds.head.isEmpty) None
        else Some(Zones(parts, kinds.head.get, parts.zipWithIndex.flatMap { case (p, f) =>
          p.footer.getBlocks.asScala.zipWithIndex.flatMap { case (b, g) =>
            val stats = b.getColumns.asScala.find(_.getPath.toDotString == key)
              .map(_.getStatistics).orNull
            if (b.getRowCount == 0) None
            else if (stats == null || stats.isEmpty) Some(Zone(f, g, null, null, null))
            else if (!stats.hasNonNullValue) None
            else Some(Zone(f, g, stats.genericGetMin, stats.genericGetMax,
              stats.comparator.asInstanceOf[java.util.Comparator[Any]]))
          }
        }))
      }
    } catch { case _: java.io.IOException => None }

  /** A primitive column's current (defined) value as a collected Spark
    * row holds it, or None for a type this reader does not decode. */
  private def decoder(t: PrimitiveType): Option[ColumnReader => Any] = {
    val logical = t.getLogicalTypeAnnotation
    t.getPrimitiveTypeName match {
      case INT64 if logical == null || logical == LogicalTypeAnnotation.intType(64, true) =>
        Some(_.getLong)
      case INT32 if logical == null || logical == LogicalTypeAnnotation.intType(32, true) =>
        Some(_.getInteger)
      case DOUBLE => Some(_.getDouble)
      case FLOAT => Some(_.getFloat)
      case BOOLEAN => Some(_.getBoolean)
      case BINARY if logical == LogicalTypeAnnotation.stringType => Some(_.getBinary.toStringUsingUTF8)
      case _ => None
    }
  }

  /** `t` is a list of float: a group of one repeated field that is the
    * float element (two-level list) or a group of one float element
    * (three-level). */
  private def floatList(t: Type): Boolean = !t.isPrimitive && !t.isRepetition(REPEATED) && {
    val list = t.asGroupType
    def isFloat(e: Type): Boolean = e.isPrimitive && e.asPrimitiveType.getPrimitiveTypeName == FLOAT
    list.getFieldCount == 1 && list.getType(0).isRepetition(REPEATED) && {
      val rep = list.getType(0)
      isFloat(rep) || (!rep.isPrimitive && rep.asGroupType.getFieldCount == 1 &&
        isFloat(rep.asGroupType.getType(0)) && rep.getName != "array" &&
        !rep.getName.endsWith("_tuple"))
    }
  }

  /** The file schema's projection on `columns`, in that order, or None
    * when one is missing or is a type this reader does not decode. */
  private def projection(schema: MessageType, columns: Seq[String]): Option[MessageType] = {
    val fields: Seq[Option[Type]] = columns.map(c =>
      Some(c).filter(schema.containsField).map(f => schema.getType(schema.getFieldIndex(f))))
    val readable = fields.forall(_.exists { t =>
      if (t.isPrimitive) !t.isRepetition(REPEATED) && decoder(t.asPrimitiveType).isDefined
      else floatList(t)
    })
    if (readable) Some(new MessageType(schema.getName, fields.flatten.asJava)) else None
  }

  /** The rows of `part`'s row groups `groups` whose key is in `keep`,
    * projected on `projection`. None when the file is gone or no longer
    * has the length and mtime its footer was read at.
    */
  private def read(spark: SparkSession, part: Part, groups: Seq[Int], projection: MessageType,
                   key: String, keep: Set[Any], filter: FilterPredicate): Option[Seq[Row]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val st = try Some(part.path.getFileSystem(conf).getFileStatus(part.path))
      catch { case _: java.io.FileNotFoundException => None }
    if (!st.exists(s => s.getLen == part.len && s.getModificationTime == part.mtime)) None
    else {
      val in = HadoopInputFile.fromStatus(st.get, conf)
      // only the zone map's row groups are opened; the reader's filter
      // drops the pages of them that cannot hold a key
      val footer = new ParquetMetadata(part.footer.getFileMetaData,
        groups.map(part.footer.getBlocks.get).asJava)
      // options per read: they own a codec factory whose decompressors are
      // not thread-safe, and concurrent lookups must not share one. Built
      // from the session's configuration, not ParquetReadOptions.builder()'s
      // fresh one, which costs several milliseconds per read. The
      // dictionary filter is off: it would decode each chunk's dictionary
      // a second time, and the column index already prunes by key.
      val options = HadoopReadOptions.builder(in.getConfiguration)
        .withRecordFilter(FilterCompat.get(filter)).useDictionaryFilter(false).build()
      val reader = ParquetFileReader.open(in, footer, options, in.newStream())
      try {
        reader.setRequestedSchema(projection)
        val out = Vector.newBuilder[Row]
        var pages = reader.readNextFilteredRowGroup()
        while (pages != null) {
          out ++= rowGroup(pages, projection, key, keep, part.footer.getFileMetaData.getCreatedBy)
          pages = reader.readNextFilteredRowGroup()
        }
        Some(out.result())
      } finally reader.close()
    }
  }

  /** The matching rows of one (page-filtered) row group: the key column
    * is decoded to find them, then each other column materializes only
    * their values and skips the rest. Every column reader of a filtered
    * row group walks the same surviving rows, so row ordinals align
    * across columns.
    */
  private def rowGroup(pages: PageReadStore, projection: MessageType, key: String,
                       keep: Set[Any], createdBy: String): Seq[Row] = {
    val store = new ColumnReadStoreImpl(pages,
      new GroupRecordConverter(projection).getRootConverter, projection, createdBy)
    val fields = projection.getFields.asScala.toIndexedSeq
    val cols = projection.getColumns.asScala.toIndexedSeq // one leaf per field
    val k = fields.indexWhere(_.getName == key)
    val kc = store.getColumnReader(cols(k))
    val raw: ColumnReader => Any =
      if (cols(k).getPrimitiveType.getPrimitiveTypeName == INT64) c => java.lang.Long.valueOf(c.getLong)
      else _.getBinary
    val hits = mutable.ArrayBuffer.empty[Long]
    val keys = mutable.ArrayBuffer.empty[Any]
    var r = 0L
    while (r < pages.getRowCount) {
      if (kc.getCurrentDefinitionLevel == cols(k).getMaxDefinitionLevel) {
        val v = raw(kc)
        if (keep(v)) {
          hits += r
          keys += (v match { case b: Binary => b.toStringUsingUTF8; case l => l })
        }
      }
      kc.consume()
      r += 1
    }
    if (hits.isEmpty) Nil
    else {
      val values = fields.indices.map { i =>
        if (i == k) keys.toArray
        else column(store.getColumnReader(cols(i)), fields(i),
          projection.getMaxDefinitionLevel(fields(i).getName), hits)
      }
      hits.indices.map(h => Row.fromSeq(values.map(_(h))))
    }
  }

  /** The values of column reader `c` (field `field`) at the ascending
    * row ordinals `hits`; the other rows' values are skipped, never
    * decoded. A list of float reads null below `listDef`, the definition
    * level of an empty list, and holds null for an element defined
    * between it and the leaf's level.
    */
  private def column(c: ColumnReader, field: Type, listDef: Int,
                     hits: collection.IndexedSeq[Long]): Array[Any] = {
    val maxDef = c.getDescriptor.getMaxDefinitionLevel
    val value = if (field.isPrimitive) decoder(field.asPrimitiveType).get else null
    val out = new Array[Any](hits.size)
    var h = 0
    var r = 0L
    while (h < hits.size) {
      if (r == hits(h)) {
        if (field.isPrimitive) {
          out(h) = if (c.getCurrentDefinitionLevel == maxDef) value(c) else null
          c.consume()
        } else if (c.getCurrentDefinitionLevel < listDef) {
          c.consume()
        } else {
          val e = mutable.ArrayBuffer.empty[Any]
          while ({
            val d = c.getCurrentDefinitionLevel
            if (d == maxDef) e += c.getFloat else if (d > listDef) e += null
            c.consume()
            c.getCurrentRepetitionLevel > 0
          }) ()
          out(h) = e.toIndexedSeq
        }
        h += 1
      } else {
        while ({
          if (c.getCurrentDefinitionLevel == maxDef) c.skip()
          c.consume()
          c.getCurrentRepetitionLevel > 0
        }) ()
      }
      r += 1
    }
    out
  }
}
