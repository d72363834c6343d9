package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, FutureTask, TimeUnit, TimeoutException}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev-only timer of the query inventory:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.Bench"
  *
  * For each query, in name order:
  *   - warm its codegen on the `sf0.001` corpus beside the sf dir
  *     ([[Profile.warmDir]]) right before timing it: Spark's
  *     generated-class cache is bounded, so one bulk warm pass would evict
  *     the early entries and their timings would include Janino compiles;
  *   - time `trials` materializations of the full physical plan
  *     (`queryExecution.toRdd.count()`; `.count()` on the DataFrame would
  *     let Catalyst prune unreferenced projections and time a smaller plan);
  *   - report the median of the trials.
  *
  * Each materialization runs under a watchdog of [[QueryTimeoutSec]]: a
  * query that throws or runs past it records -1, its job group is
  * cancelled, and the remaining queries are still measured.
  *
  * Stdout gets one line,
  * `{"metric":"total","value":…,"unit":"sec","queries":{…},"sf":…}`:
  * each query's median in seconds and their sum (failed queries left out
  * of the sum). [[OutFile]] gets the same object plus `cpus` and each
  * query's `[min, max]` over its trials under `spread`. Per-query jobs,
  * stages and tasks are [[Profile]]'s to report.
  *
  * Knobs: `SPARK_GRAFT_SF_DIR` (default `/root/testdata/sf0.1`),
  * `SPARK_GRAFT_BENCH_ONLY` (comma-separated query subset),
  * `SPARK_GRAFT_BENCH_TRIALS` (default 3).
  */
object Bench {

  type Query = (SparkSession, String) => DataFrame

  /** Per materialization: one run hung in AQE's stage-event wait with the
    * cluster idle, so the bound only has to catch hangs, not slow work.
    */
  val QueryTimeoutSec = 180L
  val OutFile = "bench_out.json"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val trials = sys.env.get("SPARK_GRAFT_BENCH_TRIALS").map(_.toInt).getOrElse(3)
    val queries = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    val spark = GraftSession.local("graft-bench")
    try {
      val (line, fileLine) = run(spark, sfDir, queries, trials)
      Files.writeString(Paths.get(OutFile), fileLine + "\n")
      println(line)
    } finally spark.stop()
  }

  /** Time `queries` on `sfDir`; returns the stdout line and the
    * [[OutFile]] line.
    */
  def run(spark: SparkSession, sfDir: String, queries: Map[String, Query],
          trials: Int): (String, String) = {
    val warmDir = Profile.warmDir(sfDir)
    val pool = Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "bench-watchdog"); t.setDaemon(true); t
    }
    // seconds for one materialization, or -1 if it threw or timed out
    def materialize(name: String, dir: String): Double = {
      val group = s"bench-$name"
      val t0 = System.nanoTime()
      val task = new FutureTask[Unit](() => {
        // the job group is thread-local: set it on the submitting thread
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        queries(name)(spark, dir).queryExecution.toRdd.count(): Unit
      })
      pool.execute(task)
      try { task.get(QueryTimeoutSec, TimeUnit.SECONDS); (System.nanoTime() - t0) / 1e9 }
      catch {
        case _: TimeoutException =>
          Console.err.println(s"[bench] watchdog: $name exceeded ${QueryTimeoutSec}s, cancelling")
          spark.sparkContext.cancelJobGroup(group)
          task.cancel(true)
          -1.0
        case e: Exception =>
          Console.err.println(s"[bench] $name failed: ${Option(e.getCause).getOrElse(e)}")
          -1.0
      }
    }

    val names = queries.keys.toSeq.sorted
    val results = try {
      names.headOption.foreach(materialize(_, warmDir)) // session and JVM warm
      names.map { name =>
        materialize(name, warmDir)
        // a failed trial ends the query: its later trials would only
        // fail again, or each wait out the watchdog
        val times = Iterator.fill(trials)(materialize(name, sfDir)).takeWhile(_ >= 0).toVector
        name -> (if (times.length < trials) Vector(-1.0) else times.sorted)
      }
    } finally pool.shutdownNow()

    def fmt(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    def median(v: Seq[Double]): Double = v(v.length / 2)
    def obj(f: Seq[Double] => String): String =
      results.map { case (k, v) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
    val total = results.map { case (_, v) => median(v) }.filter(_ >= 0).sum
    val sf = Paths.get(sfDir).getFileName.toString
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""queries":${obj(v => fmt(median(v)))},"sf":"$sf"}"""
    val spread = obj(v => s"[${fmt(v.head)},${fmt(v.last)}]")
    (line, line.dropRight(1) + s""","cpus":${spark.sparkContext.defaultParallelism},"spread":$spread}""")
  }
}
