package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One span: a named interval recorded by the benchmark around its own
  * calls into a layer. Times are epoch milliseconds.
  */
final case class Span(id: Long, parent: Long, name: String, startMs: Long, endMs: Long)

/** One finished micro-batch of the product's streaming query, from
  * Spark's public [[StreamingQueryListener]] progress events.
  */
final case class BatchProgress(queryId: String, batchId: Long, startMs: Long, endMs: Long,
                               inputRows: Long, endOffset: String, durations: Map[String, Long])

/** Progress listener used by every run (untraced too): commit times are
  * what the end-to-end lag metrics are made of.
  */
final class ProgressLog extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[BatchProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val end = start + d.getOrElse("triggerExecution", 0L)
    val off = p.sources.headOption.map(_.endOffset).getOrElse("")
    synchronized { buf += BatchProgress(p.id.toString, p.batchId, start, end, p.numInputRows, off, d); notifyAll() }
  }
  def all: Vector[BatchProgress] = synchronized(buf.toVector)
  /** Block until `cond` holds over the progress so far, or `timeoutMs` passes. */
  def await(timeoutMs: Long)(cond: Vector[BatchProgress] => Boolean): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = cond(buf.toVector)
    while (!ok && System.currentTimeMillis() < deadline) {
      wait(math.max(1L, math.min(200L, deadline - System.currentTimeMillis())))
      ok = cond(buf.toVector)
    }
    ok
  }
}

/** Outside-in tracer: Spark's public [[SparkListener]] events, a sampler
  * of driver thread stacks, and the benchmark's own spans. Registered only
  * in traced runs.
  *
  * A streaming query's jobs all carry the call site where the query was
  * started, so jobs are attributed by sampling instead: every
  * [[Tracer.SampleMs]] the sampler records, for each driver thread inside
  * Spark code, the innermost `graft.*` frame on its stack; a job belongs to
  * the owner sampled most often while it ran. Jobs carrying the reader's
  * job group are the reader's.
  */
final class Tracer(val runId: String) extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val isRead: Boolean) {
    @volatile var endMs: Long = -1L
    lazy val owner: String = ownerOf(startMs, math.max(endMs, startMs))
    val tasks = new AtomicLong
    val stages = new AtomicLong
    val execRunMs = new AtomicLong
    val cpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val resultBytes = new AtomicLong
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
    val rowsRead = new AtomicLong
    val bytesRead = new AtomicLong
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val selfNs = new AtomicLong
  private val spanSeq = new AtomicLong
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** (epoch ms, owner) per sampled driver thread inside Spark code. */
  private val samples = mutable.ArrayBuffer.empty[(Long, String)]
  @volatile private var sampling = true
  private val sampler = new Thread(() => {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    var ids = Array.empty[Long]
    var n = 0L
    while (sampling) {
      val t0 = System.nanoTime()
      val now = System.currentTimeMillis()
      // the threads that run product code on the driver: the streaming
      // query's and the store's parallel-commit pool
      if (n % 50 == 0) ids = mx.getThreadInfo(mx.getAllThreadIds).filter(_ != null)
        .filter(i => i.getThreadName.startsWith("stream execution thread") ||
          i.getThreadName.startsWith("graft-store-par")).map(_.getThreadId)
      n += 1
      val got = mx.getThreadInfo(ids, 96).toSeq.filter(_ != null).map(_.getStackTrace).flatMap { st =>
        val inSpark = st.exists(_.getClassName.startsWith("org.apache.spark.scheduler.DAGScheduler")) ||
          st.exists(_.getClassName.startsWith("org.apache.spark.sql.execution.adaptive"))
        if (!inSpark) None
        else st.find(_.getClassName.startsWith("graft.")).map(f => Tracer.owner(f.getClassName + "." + f.getMethodName + "("))
      }
      if (got.nonEmpty) synchronized(got.foreach(o => samples += ((now, o))))
      selfNs.addAndGet(System.nanoTime() - t0)
      Thread.sleep(Tracer.SampleMs)
    }
  }, "perfbench-sampler")
  sampler.setDaemon(true)
  sampler.start()

  def stop(): Unit = { sampling = false; sampler.join() }

  private def ownerOf(fromMs: Long, toMs: Long): String = {
    val in = synchronized(samples.filter { case (t, _) => t >= fromMs - Tracer.SampleMs && t <= toMs }.toSeq)
    if (in.isEmpty) "other" else in.groupBy(_._2).maxBy(_._2.size)._1
  }

  def record(s: Span): Unit = synchronized(spans += s)
  def newSpanId(): Long = spanSeq.incrementAndGet()
  def allSpans: Vector[Span] = synchronized(spans.toVector)
  /** Wall time spent inside this listener's callbacks. */
  def selfSeconds: Double = selfNs.get() / 1e9

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val j = new Job(e.jobId, e.time, group.contains(Tracer.ReadGroup))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        j.execRunMs.addAndGet(m.executorRunTime)
        j.cpuNs.addAndGet(m.executorCpuTime)
        j.gcMs.addAndGet(m.jvmGCTime)
        j.resultBytes.addAndGet(m.resultSize)
        j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        j.rowsRead.addAndGet(m.inputMetrics.recordsRead)
        j.bytesRead.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  /** Jobs that started inside [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] =
    jobs.values().asScala.toSeq.filter(j => j.startMs >= fromMs && j.startMs <= toMs)

  /** Write every span as one JSON line to `path`. */
  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    allSpans.foreach { s =>
      sb.append(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val ReadGroup = "perfbench-read"
  val SampleMs = 100L

  /** The layers jobs are attributed to, as `<module>.<Class>`. */
  val Owners: Seq[String] = Seq("streaming.ChainIngest", "streaming.BalanceIngest",
    "chain.BalancePipeline", "chain.Transforms", "chain.TableStore",
    "streaming.StreamingDedup", "streaming.StreamingText", "operators")

  /** A `graft.*` frame (`class.method(`) as `<module>.<Class>`; every
    * `graft.operators` class counts as `operators`.
    */
  def owner(frame: String): String = {
    val qualified = frame.substring(0, frame.indexOf('('))
    qualified.substring(0, qualified.lastIndexOf('.')).split('.').toSeq match {
      case Seq(_, "operators", _*) => "operators"
      case Seq(_, m, c, _*) => s"$m.${c.takeWhile(_ != '$')}"
      case _ => "other"
    }
  }
}
