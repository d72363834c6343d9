package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Inputs to the per-layer metrics of one traced run. A unit is a block
  * for ingest and a micro-batch for the corpus stream.
  */
final case class Window(fromMs: Long, toMs: Long, units: Double, reads: Int,
                        readFromMs: Long, readToMs: Long, batches: Seq[BatchProgress])

/** Per-layer metrics, computed from the [[Tracer]]'s Spark events and the
  * workload's own counters. Every run reports every name; a layer the
  * workload does not exercise reads 0.
  */
object Layer {
  val Jobs = Seq("jobs", "busy_s", "executor_s")

  val Names: Seq[String] =
    Seq("spark.jobs_per_unit", "spark.stages_per_unit", "spark.tasks_per_unit",
      "driver.self_s_per_unit") ++
    Tracer.Owners.flatMap(o => Jobs.map(k => s"$o.${k}_per_unit")) ++
    Seq("streaming.trigger_s_p50", "streaming.add_batch_s_p50", "streaming.latest_offset_s_p50",
      "streaming.wal_commit_s_p50", "streaming.units_per_batch",
      "spark.executor_cpu_s_per_unit", "spark.shuffle_bytes_per_unit",
      "spark.result_bytes_per_unit", "spark.spill_bytes", "spark.gc_s",
      "chain.TableStore.data_files", "chain.TableStore.bytes_per_unit",
      "corpus.state_files", "corpus.state_rows",
      "read.p50_ms", "read.jobs_per_read", "read.tasks_per_read", "read.rows_scanned_per_read",
      "read.bytes_scanned_per_read",
      "sources.rpc_calls_per_block", "sources.rpc_bytes_per_block", "sources.fetch_lag_s_p50",
      "sources.fetch_span_frac", "sources.rpc_errors",
      "bench.generator_late_s_max", "bench.trace_overhead_frac", "jvm.peak_rss_mb")

  def unitOf(name: String): String =
    if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_frac")) "frac"
    else if (name.contains("bytes")) "B"
    else if (name.endsWith("_s") || name.contains("_s_") || name.endsWith("_s_per_unit")) "s"
    else "count"

  /** The Spark-derived metrics of one window. */
  def spark(tr: Tracer, w: Window): Map[String, Double] = {
    val all = tr.jobsIn(w.fromMs, w.toMs)
    val jobs = all.filterNot(_.isRead)
    val reads = tr.jobsIn(w.readFromMs, w.readToMs).filter(_.isRead)
    val u = math.max(w.units, 1.0)
    def sum(js: Seq[tr.Job])(f: tr.Job => Double): Double = js.map(f).sum
    def dur(j: tr.Job): Double = (math.max(j.endMs, j.startMs) - j.startMs) / 1e3
    // driver self time: batch wall time not covered by any product job
    val self = w.batches.map { b =>
      val iv = jobs.map(j => (math.max(j.startMs, b.startMs), math.min(math.max(j.endMs, j.startMs), b.endMs)))
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e } else curE = math.max(curE, e)
      }
      covered += curE - curS
      (b.endMs - b.startMs - covered) / 1e3
    }.sum
    val owners = Tracer.Owners.flatMap { o =>
      val js = jobs.filter(_.owner == o)
      Seq(s"$o.jobs_per_unit" -> js.size / u,
        s"$o.busy_s_per_unit" -> sum(js)(dur) / u,
        s"$o.executor_s_per_unit" -> sum(js)(_.execRunMs.get / 1e3) / u)
    }
    val nonEmpty = w.batches.filter(_.inputRows > 0)
    def p50(k: String): Double =
      if (nonEmpty.isEmpty) 0.0 else Stats.median(nonEmpty.map(_.durations.getOrElse(k, 0L) / 1e3))
    val r = math.max(w.reads, 1).toDouble
    Map(
      "spark.jobs_per_unit" -> jobs.size / u,
      "spark.stages_per_unit" -> sum(jobs)(_.stages.get.toDouble) / u,
      "spark.tasks_per_unit" -> sum(jobs)(_.tasks.get.toDouble) / u,
      "driver.self_s_per_unit" -> self / u,
      "streaming.trigger_s_p50" -> p50("triggerExecution"),
      "streaming.add_batch_s_p50" -> p50("addBatch"),
      "streaming.latest_offset_s_p50" -> p50("latestOffset"),
      "streaming.wal_commit_s_p50" -> p50("walCommit"),
      "streaming.units_per_batch" ->
        (if (nonEmpty.isEmpty) 0.0 else nonEmpty.map(_.inputRows).sum.toDouble / nonEmpty.size),
      "spark.executor_cpu_s_per_unit" -> sum(jobs)(_.cpuNs.get / 1e9) / u,
      "spark.shuffle_bytes_per_unit" -> sum(jobs)(_.shuffleBytes.get.toDouble) / u,
      "spark.result_bytes_per_unit" -> sum(jobs)(_.resultBytes.get.toDouble) / u,
      "spark.spill_bytes" -> sum(all)(_.spillBytes.get.toDouble),
      "spark.gc_s" -> sum(all)(_.gcMs.get / 1e3),
      "read.jobs_per_read" -> (if (w.reads == 0) 0.0 else reads.size / r),
      "read.tasks_per_read" -> (if (w.reads == 0) 0.0 else sum(reads)(_.tasks.get.toDouble) / r),
      "read.rows_scanned_per_read" -> (if (w.reads == 0) 0.0 else sum(reads)(_.rowsRead.get.toDouble) / r),
      "read.bytes_scanned_per_read" -> (if (w.reads == 0) 0.0 else sum(reads)(_.bytesRead.get.toDouble) / r),
      "bench.trace_overhead_frac" -> tr.selfSeconds / math.max((w.toMs - w.fromMs) / 1e3, 1e-3),
      "jvm.peak_rss_mb" -> Main.peakRssMb
    ) ++ owners
  }

  /** (parquet data files, their bytes) under a directory. */
  def files(dir: Path): (Long, Long) = {
    if (!Files.isDirectory(dir)) return (0L, 0L)
    val it = Files.walk(dir)
    try {
      val fs = it.iterator().asScala.filter { p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")
      }.toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally it.close()
  }

  /** Fill every name not set by the workload with 0 and drop extras. */
  def complete(m: Map[String, Double]): Map[String, Double] =
    Names.map(n => n -> m.getOrElse(n, 0.0)).toMap
}
