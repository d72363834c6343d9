package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Dev-only per-query profiler: wall time against scheduler-visible work.
  *
  *   sbt "runMain graft.Profile <sfDir> d12_semdedup d6_dup_components"
  *   sbt "runMain graft.Profile --operators <sfDir> a16_sketch_overlap"
  *   sbt "runMain graft.Profile --explain <sfDir> w4_sessionize"
  *
  * The default mode warms each query's codegen on the `sf0.001` corpus
  * beside `<sfDir>` (on `<sfDir>` itself when there is none), then times one
  * materialization of its full physical plan and prints wall and plan-build
  * seconds, job/stage/task counts, summed executor task time, GC time and
  * shuffle-write bytes: is a query slow from real work, or from plan width
  * and job cascades? `--operators` adds the executed (AQE-final) plan with
  * every node's time metrics, the heaviest eight marked HOT. `--explain`
  * prints the formatted physical plan without running it. No query ids
  * after the dir profiles the top-cost set.
  */
object Profile {

  /** What the scheduler ran while attached: the repository's one job,
    * stage and task counter, shared with IngestBench and SoakBench.
    */
  final class Counts extends SparkListener {
    val jobs, stages, tasks, executorMs, gcMs, shuffleWriteBytes = new AtomicLong

    override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(sc.stageInfo.numTasks)
      Option(sc.stageInfo.taskMetrics).foreach { m =>
        executorMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  /** Run `f` with a fresh [[Counts]] attached. The listener bus is
    * asynchronous; a beat before attaching and before detaching lets the
    * event queue drain, so earlier work is not counted and the tail of
    * `f` is (the counts attribute cost, a ±1 race changes nothing).
    */
  def measure[T](spark: SparkSession)(f: Counts => T): (T, Counts) = {
    val c = new Counts
    Thread.sleep(500)
    spark.sparkContext.addSparkListener(c)
    try { val r = f(c); Thread.sleep(500); (r, c) }
    finally spark.sparkContext.removeSparkListener(c)
  }

  /** Where a query's codegen warms before it is timed, here and in
    * [[Bench]]: the `sf0.001` corpus beside `sfDir`, or `sfDir` itself
    * when there is none.
    */
  def warmDir(sfDir: String): String =
    Some(java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001"))
      .filter(java.nio.file.Files.isDirectory(_)).fold(sfDir)(_.toString)

  private val TopCost = Seq("r11_release_pipeline", "d12_semdedup", "d20_cluster_quality",
    "d13_containment", "d11_cluster_sizes", "d10_cluster_canonical",
    "d6_dup_components", "d3_simhash", "a16_sketch_overlap", "d2_minhash_lsh")
  private val Modes = Set("--explain", "--operators")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filter(_.startsWith("--"))
    val rest = args.drop(mode.size)
    require(mode.forall(Modes) && rest.nonEmpty,
      s"usage: graft.Profile [${Modes.mkString("|")}] <sfDir> [query ...]")
    val dir = rest.head
    val warmOn = warmDir(dir)
    val names = if (rest.length > 1) rest.drop(1).toSeq else TopCost
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")

    val spark = GraftSession.local("graft-profile")
    try {
      if (mode.contains("--explain")) names.foreach { name =>
        println(s"\n========== $name ==========")
        queries(name)(spark, dir).explain("formatted")
      } else {
        def warm(name: String): Unit = queries(name)(spark, warmOn).queryExecution.toRdd.count(): Unit
        warm(names.head) // session warm
        println(f"${"query"}%-26s ${"wall"}%7s ${"build"}%6s ${"jobs"}%5s ${"stg"}%4s ${"tasks"}%6s ${"taskT"}%7s ${"gc"}%5s ${"shW"}%8s")
        names.foreach { name =>
          warm(name) // codegen warm
          val ((df, build, wall), c) = measure(spark) { _ =>
            val t0 = System.nanoTime()
            val df = queries(name)(spark, dir)
            val build = (System.nanoTime() - t0) / 1e9
            df.queryExecution.toRdd.count()
            (df, build, (System.nanoTime() - t0) / 1e9)
          }
          println(f"$name%-26s $wall%7.2f $build%6.2f ${c.jobs.get}%5d ${c.stages.get}%4d ${c.tasks.get}%6d " +
            f"${c.executorMs.get / 1e3}%7.2f ${c.gcMs.get / 1e3}%5.2f ${c.shuffleWriteBytes.get / 1024}%7dK")
          if (mode.contains("--operators")) printOperators(df.queryExecution.executedPlan)
        }
      }
    } finally spark.stop()
  }

  /** The executed plan in tree order, one line per node with its row
    * count and time metrics; the eight heaviest nodes are marked HOT.
    */
  private def printOperators(plan: SparkPlan): Unit = {
    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    val out = collection.mutable.ArrayBuffer.empty[(Long, String)]
    def walk(p: SparkPlan, depth: Int): Unit = {
      val times = p.metrics.filter { case (k, _) => k.toLowerCase.contains("time") }
      val cost = times.collect { case (k, m) if !k.toLowerCase.contains("fetch") => m.value }
        .maxOption.getOrElse(0L)
      val rows = p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
      if (cost > 0 || rows >= 0)
        out += ((cost, f"${"  " * depth}${p.nodeName}%-38s rows=$rows " +
          times.map { case (k, m) => s"$k=${m.value}" }.mkString(" ")))
      children(p).foreach(walk(_, depth + 1))
    }
    walk(plan, 0)
    val hot = out.sortBy(-_._1).take(8).map(_._2).toSet
    out.foreach { case (cost, line) =>
      println((if (hot(line) && cost > 0) "HOT " else "    ") + line)
    }
  }
}
