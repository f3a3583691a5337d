package graft

import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBus
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions.memberVector
import graft.sources.PointRead

/** The driver point read of corpus members ([[PointRead]]) returns
  * what the Spark frame lookup returns, runs no Spark job when the
  * zone map isolates an id's row group, hands an id whose row groups
  * overlap to Spark, and rebuilds its zone map for a rewritten table
  * or file.
  */
class PointReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** n members with a distinct 3-dim embedding each, written by Spark
    * as `files` files (range-partitioned by vec_id unless `overlap`)
    * of several row groups each. */
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
}
