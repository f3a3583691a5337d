package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Partial-run durability: oracle_sql.json is written BEFORE the query
  * loop, and each query appends one status line to verify_status.jsonl
  * as it completes — a run cut off mid-way (OOM, wall-clock, host
  * kill) still leaves per-query evidence the checker can replay over
  * the parquet dumps that DID land, instead of an empty artifact.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter for fast
    // local iteration (two args → full run);
    // a typo'd name fails here — a silent no-op run would leave stale
    // outputs that compare green against nothing
    val queries = SparkEntry.select(if (args.length > 2) args(2).split(",").toSeq else Nil)
    val names = queries.map(_._1).toSet
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle SQL FIRST: a partial run's dumps are checkable without it
    val json = SparkEntry.oracleSql
      .filter(kv => names(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val statusPath = Paths.get(s"$outDir/verify_status.jsonl")
    Files.deleteIfExists(statusPath)
    def status(name: String, okFlag: Boolean, ms: Long, err: String): Unit = {
      val line = s"""{"query": ${q(name)}, "ok": $okFlag, "ms": $ms""" +
        (if (err == null) "}" else s""", "err": ${q(err)}}""") + "\n"
      Files.writeString(statusPath, line,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    queries.foreach { case (name, fn) =>
      spark.catalog.clearCache()
      System.err.println(s"[verify] running $name")
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        // signed-zero normalization (the r11 vocab_heaps class): IEEE
        // −0.0 + 0.0 = +0.0, identity on every other value — so a
        // tiny-negative value rounded to −0.0 anywhere in the engine
        // hashes identically to the oracle's normalized +0.0. Narrow
        // projection: row order and partitioning are untouched.
        import org.apache.spark.sql.functions.{col, lit}
        import org.apache.spark.sql.types.{DoubleType, FloatType}
        val normed = df.select(df.schema.fields.map { f =>
          f.dataType match {
            case DoubleType => (col(f.name) + lit(0.0)).as(f.name)
            case FloatType  => (col(f.name) + lit(0.0f)).as(f.name)
            case _          => col(f.name)
          }
        }.toIndexedSeq: _*)
        normed.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        status(name, okFlag = true, (System.nanoTime() - t0) / 1000000L, null)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        status(name, okFlag = false, (System.nanoTime() - t0) / 1000000L,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    spark.stop()
  }
}
