package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Closed-loop reader: one lookup at a time on a thread of its own, with
  * its jobs in the [[Tracer.ReadGroup]] job group. The lookup kinds take
  * turns, so every seed measures the same mix; only the arguments vary.
  * `lookup(kind, rnd)` returns a description when the answer is wrong.
  */
final class ReadLoop(session: SparkSession, kinds: Int, seed: Long)
                    (lookup: (Int, scala.util.Random) => Option[String]) {
  private val rnd = new scala.util.Random(seed * 31 + 7)
  private val lat = mutable.ArrayBuffer.empty[Double]
  private val starts = mutable.ArrayBuffer.empty[Long]
  private val fails = mutable.ArrayBuffer.empty[String]

  private var tried = 0

  /** Lookups made, warm-up included. */
  def attempted: Int = tried
  def count: Int = lat.size
  def failed: Int = fails.size
  def failures: Seq[String] = fails.toSeq
  def latenciesMs: Seq[Double] = lat.toSeq
  /** (start, end) epoch ms of every measured lookup. */
  def spans: Seq[(Long, Long)] = starts.zip(lat).map { case (s, l) => (s, s + l.toLong) }.toSeq

  /** `warm` unmeasured rounds of every kind, then `n` measured lookups. */
  def run(warm: Int, n: Int): Unit = {
    val t = new Thread(() => {
      session.sparkContext.setJobGroup(Tracer.ReadGroup, "benchmark reads", interruptOnCancel = false)
      (0 until warm * kinds).foreach(i => attempt(i % kinds).foreach(fails += _))
      (0 until n).foreach { i =>
        starts += System.currentTimeMillis()
        val t0 = System.nanoTime()
        val res = attempt(i % kinds)
        lat += (System.nanoTime() - t0) / 1e6
        res.foreach(fails += _)
      }
    }, "perfbench-reader")
    t.start()
    t.join()
  }

  private def attempt(kind: Int): Option[String] = {
    tried += 1
    try lookup(kind, rnd)
    catch { case e: Exception => Some(s"lookup $kind threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }
}
