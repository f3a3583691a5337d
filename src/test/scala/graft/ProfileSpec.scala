package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The entrypoints' shared pieces: query selection, the runner's
  * per-rep job accounting, and the rule that one module builds the
  * session and four objects have a main.
  */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("GraftSession(n) is local[n] with n shuffle partitions, UTC, no UI and nanosAsLong") {
    assert(spark.sparkContext.master == "local[4]")
    assert(Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone", "spark.ui.enabled",
      "spark.sql.legacy.parquet.nanosAsLong").map(spark.conf.get) == Seq("4", "UTC", "false", "true"))
  }

  test("select takes every query for no names and rejects unknown names by name") {
    assert(SparkEntry.select(Nil).map(_._1).toSet == SparkEntry.queries.keySet)
    assert(SparkEntry.select(Seq("vs_topk_qvec", "vs_topk", "vs_topk_qvec")).map(_._1) ==
      Seq("vs_topk_qvec", "vs_topk"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("vs_topk", "vs_topkk", "hybrid_topk_fre")))
    assert(e.getMessage == "unknown queries: vs_topkk, hybrid_topk_fre")
  }

  test("warm timing reps of one query report the same, non-zero job count") {
    // rep 1 is the cold rep: it also resolves the table (a schema job)
    val reps = Profile.profile(spark, TestSpark.sf, SparkEntry.queries("vs_topk_qvec"), 4)
    assert(reps.forall(_.err.isEmpty), reps)
    val jobs = reps.map(_.jobs.size)
    assert(jobs(1) > 0 && jobs.tail.distinct.size == 1 && jobs.head >= jobs(1), jobs)
    assert(reps.forall(_.jobs.map(_._3).sum > 0), reps)
  }

  test("GraftSession builds the only SparkSession, and only the four entrypoints have a main") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"run from the repository root (cwd has no $root)")
    val rules = Seq(
      "SparkSession\\.builder".r -> Set("src/main/scala/graft/GraftSession.scala"),
      "def\\s+main\\s*\\(".r -> Set("Bench", "Verify", "Profile", "tools/GenData")
        .map(f => s"src/main/scala/graft/$f.scala"))
    val offenders = Files.walk(root).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
      .flatMap { p =>
        val code = new String(Files.readAllBytes(p), "UTF-8").linesIterator.zipWithIndex
          .filterNot { case (line, _) =>
            val t = line.trim
            t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
          }.toSeq
        for {
          (re, allowed) <- rules if !allowed(p.toString)
          (line, i) <- code if re.findFirstIn(line).isDefined
        } yield s"$p:${i + 1}: ${line.trim}"
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
