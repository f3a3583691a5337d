package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{GroupType, MessageType, PrimitiveType}
import org.apache.parquet.schema.Type.Repetition.REPEATED
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{FLOAT, INT64}
import org.apache.spark.sql.{Row, SparkSession}

/** Driver point reads of (vec_id, embedding) rows by id — the member
  * lookup of every by-id search, served without a Spark job.
  *
  * A Spark lookup of one row costs a job (about 20 ms warm on 4 cores,
  * plus the classes its literal id compiles), for a read that touches
  * one row group. Here the driver reads that row group itself with
  * parquet-mr's column readers: the `vec_id` column finds the rows,
  * and only their `embedding` values are materialized.
  *
  * The row group comes from the table's zone map: every file's
  * row-group `vec_id` min/max, read once from the footers and kept in
  * [[DriverMemo]] under the table's mtime, so a rewritten table
  * rebuilds it. Driver memory is O(row groups) per table: the footers
  * and one range each.
  *
  * The rule: an id whose range matches no row group is absent (no
  * read at all); one matching row group is read on the driver; more
  * than one (overlapping files, or a row group without statistics
  * next to others) leaves the lookup to Spark, and so does a table
  * this reader does not cover (a partitioned directory, a `vec_id`
  * that is not int64, an `embedding` that is not a list of float).
  */
object PointRead {

  /** Row group `group` of file `file` holds `vec_id`s in [min, max]. */
  private final case class Zone(file: Int, group: Int, min: Long, max: Long) {
    def covers(id: Long): Boolean = min <= id && id <= max
  }

  /** One file's footer and its (vec_id, embedding) projection, with the
    * length and mtime the footer was read at. */
  private final case class Part(path: Path, len: Long, mtime: Long, footer: ParquetMetadata,
                                projection: MessageType)

  private final case class Zones(parts: IndexedSeq[Part], zones: IndexedSeq[Zone])

  /** The (vec_id, embedding) rows of `ids` in the parquet table at
    * `path`, in file order, or None when the zone map leaves an id more
    * than one candidate row group (the caller then asks Spark). A row's
    * `embedding` is null for a null list and holds null for a null
    * element, as a collected Spark row would.
    */
  def members(spark: SparkSession, path: String, ids: Seq[Long]): Option[Seq[Row]] =
    zoneMap(spark, path).flatMap { zm =>
      val hits = ids.distinct.map(id => zm.zones.filter(_.covers(id)))
      if (hits.exists(_.size > 1)) None
      else {
        val rows = hits.flatten.distinct.groupBy(_.file).toSeq.sortBy(_._1).map { case (f, zs) =>
          read(spark, zm.parts(f), zs.map(_.group).sorted, ids.toSet)
        }
        if (rows.forall(_.isDefined)) Some(rows.flatMap(_.get))
        else {
          // a file changed under an unchanged table mtime (rewritten in
          // place): rebuild the zone map next time, ask Spark now
          DriverMemo.invalidate(spark, s"$path#zones")
          None
        }
      }
    }

  private def zoneMap(spark: SparkSession, path: String): Option[Zones] =
    DriverMemo.memo(spark, s"$path#zones", IndexStore.mtime(spark, path))(build(spark, path))

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  private def build(spark: SparkSession, path: String): Option[Zones] =
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
          val footer = ParquetFileReader.readFooter(HadoopInputFile.fromStatus(s, conf),
            ParquetMetadataConverter.NO_FILTER)
          projection(footer.getFileMetaData.getSchema)
            .map(Part(s.getPath, s.getLen, s.getModificationTime, footer, _))
        }
        val readable = parts.flatten
        if (readable.size < parts.size) None
        else Some(Zones(readable, readable.zipWithIndex.flatMap { case (p, f) =>
          p.footer.getBlocks.asScala.zipWithIndex.flatMap { case (b, g) =>
            val stats = b.getColumns.asScala.find(_.getPath.toDotString == "vec_id")
              .map(_.getStatistics).orNull
            if (b.getRowCount == 0) None
            else if (stats == null || stats.isEmpty) Some(Zone(f, g, Long.MinValue, Long.MaxValue))
            else if (!stats.hasNonNullValue) None
            else Some(Zone(f, g, stats.genericGetMin.asInstanceOf[java.lang.Long],
              stats.genericGetMax.asInstanceOf[java.lang.Long]))
          }
        }))
      }
    } catch { case _: java.io.IOException => None }

  /** The file schema's (vec_id int64, embedding list<float>)
    * projection: `embedding` a group of one repeated field that is the
    * float element (two-level list) or a group of one float element
    * (three-level).
    */
  private def projection(schema: MessageType): Option[MessageType] =
    if (!schema.containsField("vec_id") || !schema.containsField("embedding")) None
    else (schema.getType(schema.getFieldIndex("vec_id")),
          schema.getType(schema.getFieldIndex("embedding"))) match {
      case (id: PrimitiveType, list: GroupType)
          if id.getPrimitiveTypeName == INT64 && !id.isRepetition(REPEATED) &&
            list.getFieldCount == 1 && list.getType(0).isRepetition(REPEATED) =>
        def isFloat(t: org.apache.parquet.schema.Type): Boolean =
          t.isPrimitive && t.asPrimitiveType.getPrimitiveTypeName == FLOAT
        val rep = list.getType(0)
        val element = isFloat(rep) || (!rep.isPrimitive && rep.asGroupType.getFieldCount == 1 &&
          isFloat(rep.asGroupType.getType(0)) && rep.getName != "array" &&
          !rep.getName.endsWith("_tuple"))
        Some(new MessageType(schema.getName, id, list)).filter(_ => element)
      case _ => None
    }

  /** The rows of `part`'s row groups `groups` whose vec_id is in
    * `keep`: the `vec_id` column is decoded to find them, then only
    * their `embedding` values are read (the rest are skipped). None
    * when the file is gone or no longer has the length and mtime its
    * footer was read at.
    */
  private def read(spark: SparkSession, part: Part, groups: Seq[Int],
                   keep: Set[Long]): Option[Seq[Row]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val st = try Some(part.path.getFileSystem(conf).getFileStatus(part.path))
      catch { case _: java.io.FileNotFoundException => None }
    if (!st.exists(s => s.getLen == part.len && s.getModificationTime == part.mtime)) None
    else Some(readGroups(HadoopInputFile.fromStatus(st.get, conf), part, groups, keep))
  }

  private def readGroups(in: HadoopInputFile, part: Part, groups: Seq[Int],
                         keep: Set[Long]): Seq[Row] = {
    // options per read: they own a codec factory whose decompressors are
    // not thread-safe, and concurrent lookups must not share one. Built
    // from the session's configuration, not ParquetReadOptions.builder()'s
    // fresh one, which costs several milliseconds per read.
    val reader = ParquetFileReader.open(in, part.footer,
      HadoopReadOptions.builder(in.getConfiguration).build(), in.newStream())
    try {
      reader.setRequestedSchema(part.projection)
      val Seq(idCol, embCol) = part.projection.getColumns.asScala.toSeq
      // a row's embedding is null below this definition level and an
      // empty list at it; between it and the leaf's, an element is null
      val listDef = part.projection.getMaxDefinitionLevel("embedding")
      groups.flatMap { g =>
        val pages = reader.readRowGroup(g)
        val store = new ColumnReadStoreImpl(pages,
          new GroupRecordConverter(part.projection).getRootConverter, part.projection,
          part.footer.getFileMetaData.getCreatedBy)
        val ids = store.getColumnReader(idCol)
        val hits = mutable.LinkedHashMap.empty[Long, Long] // row → vec_id
        var r = 0L
        while (r < pages.getRowCount) {
          if (ids.getCurrentDefinitionLevel == idCol.getMaxDefinitionLevel) {
            val id = ids.getLong
            if (keep(id)) hits(r) = id
          }
          ids.consume()
          r += 1
        }
        if (hits.isEmpty) Nil
        else {
          val c = store.getColumnReader(embCol)
          val last = hits.keys.max
          val embs = mutable.Map.empty[Long, mutable.ArrayBuffer[Any]]
          var row = -1L
          var left = c.getTotalValueCount
          while (left > 0 && (row < last || c.getCurrentRepetitionLevel > 0)) {
            if (c.getCurrentRepetitionLevel == 0) row += 1
            val d = c.getCurrentDefinitionLevel
            if (hits.contains(row)) {
              if (d >= listDef) {
                val e = embs.getOrElseUpdate(row, mutable.ArrayBuffer.empty[Any])
                if (d == embCol.getMaxDefinitionLevel) e += c.getFloat
                else if (d > listDef) e += null
              }
            } else if (d == embCol.getMaxDefinitionLevel) c.skip()
            c.consume()
            left -= 1
          }
          hits.toSeq.map { case (row, id) => Row(id, embs.get(row).map(_.toIndexedSeq).orNull) }
        }
      }
    } finally reader.close()
  }
}
