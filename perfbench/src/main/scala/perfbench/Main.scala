package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one workload run measured. Lags and read latencies are raw
  * samples; the end-to-end metrics are computed from them in [[Main]].
  * `setupEndMs` is when warm-up ended. `attempted` and `failed` count
  * units, lookups and output checks alike.
  */
final case class Outcome(
    setupEndMs: Long,
    lagsS: Seq[Double],
    readsMs: Seq[Double],
    attempted: Long,
    failed: Long,
    checks: Seq[(String, Boolean)],
    readFailures: Seq[String],
    layer: Map[String, Double],
    report: Seq[(String, String)])

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      workDir: Path, headIntervalS: Double)

/** Entry point of the benchmark program. One run = one workload, set up
  * in-process the way the product's own mains set up their sessions,
  * measured for `--seconds`, checked, and reported as one JSON line.
  */
object Main {
  val Workloads: Seq[String] = Seq("head-follow", "corpus-stream")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      Paths.get(get("work-dir")).toAbsolutePath, get("head-interval-s").toDouble)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; known: ${Workloads.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  /** The session exactly as `Indexer.main` / `PipelineRunner.main` build
    * theirs: every core of the box, shuffle partitions = cores, WARN logs.
    */
  def session(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", Runtime.getRuntime.availableProcessors.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val appName = if (args.workload == "corpus-stream") "graft-pipeline" else "graft-indexer"
    val spark = session(appName)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    describeSession(spark)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tracer = if (args.trace) Some(new Tracer(s"${args.workload}-${args.seed}")) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val out =
      try args.workload match {
        case "head-follow" => HeadFollow.run(spark, args, progress, tracer)
        case "corpus-stream" => CorpusStream.run(spark, args, progress, tracer)
      }
      finally {
        spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
      }
    tracer.foreach(_.stop())
    tracer.foreach(_.dump(args.workDir.resolve("..").resolve("traces")
      .resolve(s"${args.workload}-seed${args.seed}.jsonl").normalize()))
    val ok = emit(args, out, sessionS, (out.setupEndMs - jvmStartMs) / 1e3)
    spark.stop()
    System.exit(if (ok) 0 else 1)
  }

  /** Effective SQL conf, cores, JVM flags and heap, on stdout before the
    * result line, so a change to the product's session shows as a diff.
    */
  private def describeSession(spark: SparkSession): Unit = {
    val conf = spark.conf.getAll.toSeq.filter(_._1.startsWith("spark.sql.")).sortBy(_._1)
    val perRun = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
      "spark.driver.host", "spark.driver.port", "spark.executor.id")
    val core = spark.sparkContext.getConf.getAll.toSeq
      .filterNot { case (k, _) => k.startsWith("spark.sql.") || perRun(k) || k.contains("extraJavaOptions") }
      .sortBy(_._1)
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    println("session " + Json.obj(Seq(
      "master" -> Json.str(spark.sparkContext.master),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jvm_flags" -> Json.arr(rt.getInputArguments.asScala.toSeq.filterNot(_.startsWith("--add-opens")).map(Json.str)),
      "sql_conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }),
      "spark_conf" -> Json.obj(core.map { case (k, v) => k -> Json.str(v) }))))
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  private def emit(args: Args, o: Outcome, sessionS: Double, setup: Double): Boolean = {
    val (lagP50, readP50) = (Stats.median(o.lagsS), Stats.median(o.readsMs))
    val (readTailPct, readTail) = Stats.tail(o.readsMs)
    val (lagTailPct, lagTail) = Stats.tail(o.lagsS)
    val correct = o.failed == 0 && o.checks.forall(_._2)
    val e2e = Seq(
      "setup_s" -> (setup, "s"),
      "lag_p50_s" -> (lagP50, "s"))
    // human-readable report: every figure with its unit and sample count
    println("report " + Json.obj(Seq(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString,
      "session_s" -> Json.num(sessionS),
      "units" -> o.lagsS.size.toString, "reads" -> o.readsMs.size.toString,
      "lag_tail_s" -> Json.num(lagTail), "lag_tail_pct" -> Json.num(lagTailPct),
      "read_p50_ms" -> Json.num(readP50),
      "read_tail_ms" -> Json.num(readTail), "read_tail_pct" -> Json.num(readTailPct),
      "failed_frac" -> Json.num(if (o.attempted == 0) 0.0 else o.failed.toDouble / o.attempted)) ++
      e2e.map { case (k, (v, _)) => k -> Json.num(v) } ++
      Seq("peak_rss_mb" -> Json.num(peakRssMb)) ++
      o.report.map { case (k, v) => k -> v }))
    o.checks.foreach { case (name, pass) => println(s"check ${if (pass) "ok  " else "FAIL"} $name") }
    o.readFailures.take(5).foreach(f => println(s"check FAIL read: $f"))
    val metrics =
      if (args.trace) o.layer.updated("read.p50_ms", readP50).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> (v, Layer.unitOf(k)) }
      else e2e
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
    correct
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail: the highest whole percentile with at least ten samples
    * above it, as (percentile, value). With fewer than 20 samples that is
    * below p50, so the median is reported as the tail.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    if (xs.isEmpty) return (Double.NaN, Double.NaN)
    val pct = math.max(50, math.floor(100.0 * (xs.size - 10) / xs.size).toInt)
    (pct.toDouble, quantile(xs, pct / 100.0))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
