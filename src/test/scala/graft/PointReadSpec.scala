package graft

import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBus
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions.memberVector
import graft.sources.PointRead

/** The driver keyed read ([[PointRead]]) returns what the Spark frame
  * lookup returns: for corpus members, it runs no Spark job when the
  * zone map isolates an id's row group, hands an id whose row groups
  * overlap to Spark, and rebuilds its zone map for a rewritten table or
  * file; for postings keyed by term, it reads every row group and page
  * run that can hold a term, on the term-sorted and the unsorted
  * layout alike.
  */
class PointReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** n members with a distinct 3-dim embedding each, written by Spark
    * as `files` files (range-partitioned by vec_id unless `overlap`)
    * of several row groups of several pages each. */
  private def corpus(n: Int, files: Int, overlap: Boolean, salt: Float = 0f): String = {
    val dir = Files.createTempDirectory("graft-point").toString
    write(dir, n, files, overlap, salt)
    dir
  }

  private def write(dir: String, n: Int, files: Int, overlap: Boolean, salt: Float): Unit = {
    val rows = spark.range(n).select(col("id").as("vec_id"),
      array((col("id") * 0.5 + salt).cast("float"), lit(1.0f), (-col("id")).cast("float"))
        .as("embedding"), (col("id") % 3).cast("int").as("label"))
    (if (overlap) rows.repartition(files) else rows.repartitionByRange(files, col("vec_id")))
      .write.mode("overwrite").option("parquet.block.size", 1024)
      .option("parquet.page.row.count.limit", 8).option("parquet.page.size.row.check.min", 1)
      .parquet(s"$dir/embeddings.parquet")
  }

  private def frameRows(dir: String, ids: Seq[Long]): Seq[(Long, Seq[Float])] =
    Tables.embeddings(spark, dir).where(col("vec_id").isin(ids: _*))
      .select("vec_id", "embedding").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

  /** Spark jobs started while running `f`. */
  private def jobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    GraftBus.drain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val out = f
      GraftBus.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }

  test("the driver read equals the frame lookup on every id of a multi-file corpus") {
    val dir = corpus(300, files = 3, overlap = false)
    val path = s"$dir/embeddings.parquet"
    val files = Tables.embeddings(spark, dir).inputFiles.length
    assert(files == 3, s"fixture wrote $files files")
    (0L until 300L).foreach { id =>
      val got = PointRead.members(spark, path, Seq(id))
        .getOrElse(fail(s"id $id left to Spark on a range-partitioned corpus"))
      assert(got.map(r => (r.getLong(0), r.getSeq[Float](1))) == frameRows(dir, Seq(id)), s"id $id")
      assert(memberVector(spark, dir, id).toSeq ==
        memberVector(Tables.embeddings(spark, dir), id, path).toSeq, s"id $id")
    }
    val ids = Seq(299L, 0L, 150L, 150L, 1000L)
    assert(PointRead.members(spark, path, ids).get.map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1) == frameRows(dir, ids).sortBy(_._1))
    assert(PointRead.members(spark, path, Seq(1000L)).contains(Seq.empty))
  }

  test("a member lookup the zone map isolates runs no Spark job") {
    val dir = corpus(300, files = 3, overlap = false)
    memberVector(spark, dir, 0L) // builds the zone map
    val (vs, n) = jobs(Seq(5L, 123L, 299L).map(memberVector(spark, dir, _).toSeq))
    assert(n == 0, s"$n Spark jobs for three isolated member lookups")
    assert(vs.map(_.head) == Seq(2.5f, 61.5f, 149.5f))
    val (absent, m) = jobs(scala.util.Try(memberVector(spark, dir, 5000L)))
    assert(m == 0 && absent.failed.get.getMessage ==
      graft.functions.VectorFunctions.memberNotFound(s"$dir/embeddings.parquet", 5000L).getMessage)
  }

  test("concurrent lookups each read their own member") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = corpus(300, files = 3, overlap = false)
    val want = (0L until 300L).map(id => id -> memberVector(spark, dir, id).toSeq).toMap
    val got = Await.result(Future.sequence((0 until 4).map { t =>
      Future((0L until 300L).map(i => (i * 7 + t) % 300)
        .map(id => id -> memberVector(spark, dir, id).toSeq))
    }), 2.minutes).flatten
    assert(got.forall { case (id, v) => v == want(id) })
  }

  test("overlapping files leave the lookup to Spark") {
    val dir = corpus(300, files = 2, overlap = true)
    assert(PointRead.members(spark, s"$dir/embeddings.parquet", Seq(7L)).isEmpty)
    val (v, n) = jobs(memberVector(spark, dir, 7L).toSeq)
    assert(v == Seq(3.5f, 1.0f, -7.0f))
    assert(n >= 1, "the overlapping lookup must run through Spark")
  }

  test("a rewritten table rebuilds its zone map") {
    val dir = corpus(100, files = 2, overlap = false)
    assert(memberVector(spark, dir, 10L).head == 5.0f)
    // the rewrite also changes the file layout the old zone map points into
    write(dir, 200, files = 4, overlap = false, salt = 100f)
    assert(memberVector(spark, dir, 10L).head == 105.0f)
    assert(memberVector(spark, dir, 150L).head == 175.0f)
  }

  test("a file rewritten in place under an unchanged table mtime is never read stale") {
    import java.nio.file.StandardCopyOption.REPLACE_EXISTING
    def dataFile(d: String): java.io.File = new java.io.File(s"$d/embeddings.parquet")
      .listFiles.filter(f => f.getName.endsWith(".parquet")).head
    val dir = corpus(100, files = 1, overlap = false)
    val path = s"$dir/embeddings.parquet"
    assert(PointRead.members(spark, path, Seq(10L)).isDefined) // zone map built
    val other = corpus(100, files = 1, overlap = false, salt = 100f)
    val (from, to) = (dataFile(other), dataFile(dir))
    val stamp = new java.io.File(path).lastModified
    Files.copy(from.toPath, to.toPath, REPLACE_EXISTING)
    Files.copy(new java.io.File(from.getParent, s".${from.getName}.crc").toPath,
      new java.io.File(to.getParent, s".${to.getName}.crc").toPath, REPLACE_EXISTING)
    assert(new java.io.File(path).setLastModified(stamp))
    assert(PointRead.members(spark, path, Seq(10L)).isEmpty, "the stale footer must not be read")
    assert(PointRead.members(spark, path, Seq(10L)).get.map(_.getSeq[Float](1).head) ==
      Seq(105.0f), "the zone map must be rebuilt")
  }

  private val terms = (0 until 40).map(t => f"t$t%02d")

  /** Postings (doc_id, term, w) of 300 documents over 40 terms, each
    * `w` a function of its (doc_id, term), written as 3 files of tiny
    * row groups and pages: sorted by (term, doc_id) inside each file, as
    * the TF-IDF model writes them, or in hash order (`sorted` false).
    */
  private def postingsTable(sorted: Boolean): String = {
    import spark.implicits._
    val rows = for {
      d <- 0L until 300L
      (t, i) <- terms.zipWithIndex if (d * 7 + i * 13) % 5 == 0
    } yield (d, t, weight(d, t))
    val df = rows.toDF("doc_id", "term", "w").repartition(3, col("doc_id"))
    val path = Files.createTempDirectory("graft-postings").toString + "/w"
    (if (sorted) df.sortWithinPartitions("term", "doc_id") else df)
      .write.option("parquet.block.size", 2048).option("parquet.page.row.count.limit", 7)
      .option("parquet.page.size.row.check.min", 1).parquet(path)
    path
  }

  private def weight(d: Long, t: String): Double = d * 100.0 + t.drop(1).toInt + 0.25

  private def postingRows(path: String, ts: Seq[String]): Seq[(Long, String, Double)] =
    PointRead.rows(spark, path, "term", ts, Seq("doc_id", "term", "w"), spanning = true)
      .getOrElse(fail(s"postings of $ts left to Spark"))
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))

  private def scanRows(path: String, ts: Seq[String]): Seq[(Long, String, Double)] =
    spark.read.parquet(path).where(col("term").isin(ts: _*)).select("doc_id", "term", "w")
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))

  /** Per file, per row group: the term column's pages as (min, max). */
  private def termPages(path: String): Seq[Seq[Seq[(String, String)]]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    new java.io.File(path).listFiles.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .toSeq.map { f =>
        val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getPath),
          spark.sparkContext.hadoopConfiguration)
        val reader = ParquetFileReader.open(in)
        try reader.getFooter.getBlocks.asScala.toSeq.map { b =>
          val chunk = b.getColumns.asScala.find(_.getPath.toDotString == "term").get
          val ci = reader.readColumnIndex(chunk)
          ci.getMinValues.asScala.zip(ci.getMaxValues.asScala).toSeq.map { case (lo, hi) =>
            (java.nio.charset.StandardCharsets.UTF_8.decode(lo).toString,
              java.nio.charset.StandardCharsets.UTF_8.decode(hi).toString)
          }
        } finally reader.close()
      }
  }

  test("a postings read equals Spark's term IN scan row for row, pages and row groups spanned") {
    val path = postingsTable(sorted = true)
    val pages = termPages(path)
    assert(pages.size == 3 && pages.forall(_.size > 1) && pages.flatten.exists(_.size > 1),
      s"fixture layout (files → row groups → pages): ${pages.map(_.map(_.size))}")
    // a term continues from one row group into the next
    assert(pages.exists(groups => groups.zip(groups.drop(1)).exists { case (a, b) =>
      a.last._2 == b.head._1 }), "no term spans two row groups")
    val rnd = new scala.util.Random(5)
    val queries = Seq(Seq("t00"), Seq("t39"), terms) ++
      (0 until 20).map(_ => Seq.fill(1 + rnd.nextInt(4))(terms(rnd.nextInt(terms.size))))
    queries.foreach { ts =>
      val got = postingRows(path, ts)
      assert(got.sorted == scanRows(path, ts).sorted, s"terms $ts")
      assert(got.forall { case (d, t, w) => w == weight(d, t) }, s"misaligned rows for $ts")
    }
  }

  test("a page holding query and other terms returns aligned rows (skipped values stay aligned)") {
    val path = postingsTable(sorted = true)
    val mixed = terms.filter(t => termPages(path).flatten.flatten.exists { case (lo, hi) =>
      lo <= t && t <= hi && (lo < t || t < hi) })
    assert(mixed.size > 10, s"only ${mixed.size} terms share a page with another term")
    mixed.foreach { t =>
      val got = postingRows(path, Seq(t))
      assert(got.nonEmpty && got.forall { case (d, tt, w) => tt == t && w == weight(d, t) },
        s"term $t: $got")
      assert(got.sorted == scanRows(path, Seq(t)).sorted, s"term $t")
    }
  }

  test("an unsorted postings layout still reads the correct rows") {
    val path = postingsTable(sorted = false)
    Seq(Seq("t00"), Seq("t17", "t03"), terms.take(9), terms).foreach { ts =>
      val got = postingRows(path, ts)
      assert(got.sorted == scanRows(path, ts).sorted, s"terms $ts")
      assert(got.forall { case (d, t, w) => w == weight(d, t) }, s"misaligned rows for $ts")
    }
  }

  test("an out-of-vocabulary term or an empty term set reads nothing and runs no job") {
    val path = postingsTable(sorted = true)
    postingRows(path, Seq("t05")) // builds the zone map
    val cols = Seq("doc_id", "term", "w")
    for (ts <- Seq(Seq("zzz"), Seq("a"), Seq("t05x"), Nil)) {
      val (got, n) = jobs(PointRead.rows(spark, path, "term", ts, cols, spanning = true))
      assert(got.contains(Nil) && n == 0, s"terms $ts: $got, $n Spark jobs")
    }
  }
}
