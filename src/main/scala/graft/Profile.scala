package graft

import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graft.GraftBus

/** The measurement runner:
  * `graft.Profile <sfDir> [--reps N] [--explain | --show] [--conf k=v]... <query...>`
  *
  *  - timing (default): `--reps` reps (default 3) of each query, each
  *    timed exactly as a graft.Bench rep (`Bench.rep`), so rep 1 is the
  *    cold rep and later reps the warm cost. Per rep it prints the wall
  *    seconds, the number of Spark jobs the rep ran, the generated
  *    classes it compiled and their compile ms, and each job's ms and
  *    task count (the 12 longest), which separates driver-loop
  *    overhead (many tiny jobs) and codegen (a warm rep that still
  *    compiles folds a per-call value into its code) from stage
  *    compute.
  *  - `--explain`: the formatted physical plan of each query.
  *  - `--show`: each query's result rows.
  *
  * No query names means every query. `--conf` sets a session conf
  * before the first query, e.g. the scratch-cache cap:
  * `--conf spark.graft.scratch.cache.size=16 ann_graph_knn_join`.
  */
object Profile {

  /** One timing rep: wall seconds, the query's error if it threw,
    * (job id, ms, tasks) for each Spark job the rep ran, by job id, and
    * the generated classes it compiled with their compile ms. */
  case class Rep(wall: Double, err: Option[String], jobs: Seq[(Int, Long, Int)],
                 compiles: Long, compileMs: Double)

  private val usage =
    "usage: graft.Profile <sfDir> [--reps N] [--explain | --show] [--conf k=v]... <query...>"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && !args(0).startsWith("--"), usage)
    var reps = 3
    var mode = "time"
    val conf = mutable.ArrayBuffer.empty[(String, String)]
    val names = mutable.ArrayBuffer.empty[String]
    @annotation.tailrec
    def parse(a: List[String]): Unit = a match {
      case Nil => ()
      case "--reps" :: n :: t if n.toIntOption.exists(_ >= 1) => reps = n.toInt; parse(t)
      case ("--explain" | "--show") :: t if mode == "time" => mode = a.head.drop(2); parse(t)
      case "--conf" :: kv :: t if kv.indexOf('=') > 0 =>
        val i = kv.indexOf('=')
        conf += kv.take(i) -> kv.drop(i + 1)
        parse(t)
      case f :: _ if f.startsWith("--") => throw new IllegalArgumentException(s"bad flag $f; $usage")
      case n :: t => names += n; parse(t)
    }
    parse(args.toList.tail)
    val sfDir = args(0)
    val queries = SparkEntry.select(names.toSeq)
    val spark = GraftSession()
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    queries.foreach { case (n, fn) =>
      mode match {
        case "time" =>
          profile(spark, sfDir, fn, reps).zipWithIndex.foreach { case (r, i) =>
            val jobSum = r.jobs.map(_._2).sum / 1e3
            println(f"== $n rep${i + 1} wall=${r.wall}%.2fs jobs=${r.jobs.size} " +
              f"compiles=${r.compiles} compileMs=${r.compileMs}%.1f " +
              f"jobTimeSum=$jobSum%.2fs gap=${r.wall - jobSum}%.2fs" + r.err.fold("")(e => s" ERROR $e"))
            r.jobs.sortBy(-_._2).take(12).foreach { case (id, ms, tasks) =>
              println(f"   job$id%-5d ${ms}ms tasks=$tasks")
            }
          }
        case _ =>
          println(s"\n========== $n ==========")
          try {
            val df = fn(spark, sfDir)
            if (mode == "explain") df.explain("formatted") else df.show(200, truncate = false)
          } catch { case t: Throwable => println(s"ERROR $t") }
      }
    }
    spark.stop()
  }

  /** `reps` reps of `fn`, each timed by `Bench.rep`, with the Spark jobs
    * each rep ran. The listener bus is drained after every rep, so a
    * late job-end or task-end event still lands in its own rep. */
  def profile(spark: SparkSession, sfDir: String,
              fn: (SparkSession, String) => DataFrame, reps: Int): Seq[Rep] = {
    val jobs = new JobLog
    val sc = spark.sparkContext
    sc.addSparkListener(jobs)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    try (1 to reps).map { _ =>
      val (c0, ns0) = (compiles.getCount, CodeGenerator.compileTime)
      val (wall, err) = Bench.rep(spark, sfDir, fn)
      GraftBus.drain(sc)
      Rep(wall, err, jobs.take(), compiles.getCount - c0, (CodeGenerator.compileTime - ns0) / 1e6)
    } finally sc.removeSparkListener(jobs)
  }

  /** Start, end and task count of every job since the last `take`. */
  private class JobLog extends SparkListener {
    private val start, end = mutable.Map.empty[Int, Long]
    private val tasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
    private val stageJob = mutable.Map.empty[Int, Int]

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      start(j.jobId) = j.time
      j.stageIds.foreach(stageJob(_) = j.jobId)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized { end(j.jobId) = j.time }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(t.stageId).foreach(j => tasks(j) += 1)
    }

    def take(): Seq[(Int, Long, Int)] = synchronized {
      val out = start.toSeq.sortBy(_._1).map { case (j, t0) =>
        (j, end.getOrElse(j, t0) - t0, tasks(j))
      }
      start.clear(); end.clear(); tasks.clear(); stageJob.clear()
      out
    }
  }
}
