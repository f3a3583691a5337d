package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface. The reference's artifact store is CSV + NumPy
  * files loaded whole into memory (reference app.py:63-102); here every
  * format is a splittable, predicate-pushdown-capable Spark source, and
  * embeddings travel as parquet list<float> columns instead of side-car
  * .npy matrices.
  */
object Sources {

  /** Fail, naming the file, when an artifact a reader needs is
    * absent: `reference artifact missing: <path>` rather than the raw
    * FileNotFoundException or PATH_NOT_FOUND the first read would
    * raise further down. Every reader of the reference's own formats
    * (csv, npy, faiss, joblib) checks through here first.
    */
  def requireArtifact(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      throw new java.io.FileNotFoundException(s"reference artifact missing: $path")
  }

  /** CSV with header, explicit schema (never schema inference in
    * production — one pass saved, no type drift), quoted fields as in
    * the reference's products.csv/reviews.csv.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    requireArtifact(spark, path)
    spark.read
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("multiLine", "true")
      .schema(schema)
      .csv(path)
  }

  /** CSV with FILE-ORDER row ids — the positional-alignment door for
    * reference artifacts whose side-car matrices address rows by
    * position (reviews.csv row i ↔ review_embeddings.npy row i,
    * exactly how the reference pairs `read_csv` with `np.load`).
    * `multiLine` forces whole-file parsing, so a single input file is
    * ONE task and `zipWithIndex` is file order by construction; the
    * reader asserts that precondition instead of silently mis-indexing
    * a multi-file input. This is a bounded-artifact interop reader —
    * corpus-scale data belongs in parquet, where ids are columns.
    */
  def readCsvRowIndexed(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField}
    val df = readCsv(spark, path, schema)
    require(df.rdd.getNumPartitions == 1,
      s"row-indexed CSV read needs a single input file (got ${df.rdd.getNumPartitions} " +
        s"partitions for $path) — positional ids are only defined by one file's order")
    val indexed = df.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(i +: r.toSeq) }
    spark.createDataFrame(indexed,
      StructType(StructField("row_id", LongType, nullable = false) +: df.schema.fields))
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .csv(path)

  /** JSON-lines (one doc per line — the streaming-friendly layout). */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Parquet sink partitioned by a low-cardinality column — the layout
    * that makes 100 TB scans prunable (`WHERE lang = 'en'` reads 1/5 of
    * the files, verified via PushedFilters/partition pruning in the
    * plan).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC — the other columnar warehouse format (Hive-ecosystem
    * interop); same pushdown/pruning behavior as parquet under
    * Spark's vectorized ORC reader.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Bucketed managed table: rows are hash-clustered into a fixed
    * number of files per partition by the join key at WRITE time, so
    * every later join or aggregation on that key runs with no shuffle —
    * the planner sees the clustering and drops the Exchange. At 100 TB
    * this is the difference between re-shuffling the corpus per query
    * and paying the distribution cost once at ingest.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, nBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
}
