package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{DriverMemo, IndexStore}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Maps the reference's data model (products.csv / reviews.csv /
  * *_embeddings.npy in /root/reference) onto the synthetic star schema:
  * `documents` plays reviews, `embeddings` plays the embedding matrices
  * (doc_id = vec_id), `events` plays the review/interaction stream.
  */
object Tables {

  /** Warm serving — the engine's analog of the reference's cached
    * resources (app.py:63-102 `st.cache_resource`/`st.cache_data`
    * keep the matrices and frames resident between interactions): a
    * long-lived serving session calls [[warm]] once, and every
    * operator that reads a warmed (dir, table) pair — all of them go
    * through [[table]] — plans an InMemoryTableScan instead of a file
    * scan, so repeat queries never touch storage. The warmed frames
    * are pinned [[DriverMemo]] entries.
    */
  def warm(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      val path = s"$dir/$n.parquet"
      DriverMemo.pinned(spark, s"table|$path", IndexStore.mtime(spark, path))(
        spark.read.parquet(path))
        .count() // materialize now: serving latency should not pay the first-touch build
    }

  /** Unpersist and drop every table handle of this session. */
  def cool(spark: SparkSession): Unit = DriverMemo.invalidate(spark, "table|")

  /** Memoized UNCACHED handles (guide §1.2 / §7.3 — driver-side work):
    * every `spark.read.parquet` pays DataSource resolution (file
    * listing + a parquet footer schema-inference pass, which Spark 4
    * runs as a small distributed job) — measured 30-80 ms per call at
    * sf0.1, once per `Tables.X()` call, i.e. 100+ times inside the
    * 13-family eval's serving loop alone. The memo returns the SAME
    * lazy plan (no persist — every action still scans parquet, so this
    * is metadata reuse, not result caching; the production analog is a
    * catalog table resolved once per session), or the warmed frame.
    * The stamp is the table directory's mtime (one getFileStatus RPC),
    * so a rewritten table can never serve a stale file list.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    DriverMemo.memo(spark, s"table|$path", IndexStore.mtime(spark, path))(
      spark.read.parquet(path))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** events.ts has shipped in three parquet representations across driver
    * regenerations: TIMESTAMP(NANOS) (surfaces as epoch-nanos LongType
    * under `spark.sql.legacy.parquet.nanosAsLong`), TIMESTAMP(MICROS)
    * adjusted-to-UTC (Spark TimestampType), and TIMESTAMP(MICROS)
    * isAdjustedToUTC=false (Spark TIMESTAMP_NTZ). Expose a stable
    * epoch-millis column `ts_ms` (integer `div` for nanos — no double
    * round-trip, epoch nanos exceed 2^53) so downstream results are
    * oracle-comparable (DuckDB `epoch_ms`) under all three. For NTZ the
    * session TZ is pinned UTC in every entrypoint, so casting NTZ →
    * TIMESTAMP reinterprets the wall-clock as UTC, matching DuckDB's
    * naive-timestamp epoch semantics.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = table(spark, dir, "events")
    val tsMs = df.schema("ts").dataType match {
      case LongType            => expr("ts div 1000000")
      case _: TimestampNTZType => unix_millis(col("ts").cast(TimestampType))
      case _                   => unix_millis(col("ts"))
    }
    df.withColumn("ts_ms", tsMs.cast("long"))
  }
}
