package graft.chain

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Concurrent execution of INDEPENDENT store actions from the driver.
  *
  * The per-block ingest bracket is bounded by Spark job-launch latency,
  * not data volume: a head-follow block issues a dozen sub-second write
  * jobs (distinct tables, no ordering between them) back-to-back, and
  * each one leaves the cluster idle while the driver schedules the next.
  * Submitting the independent jobs from separate threads overlaps their
  * scheduling + commit latency — Spark supports concurrent jobs on one
  * SparkContext by design (the FIFO scheduler interleaves them), and at
  * 1000-executor scale this same overlap is what keeps a tiny-batch
  * streaming trigger from serializing on the driver.
  *
  * Failure contract: the bracket waits for EVERY thunk to settle
  * (success or failure) and only then propagates the first failure.
  * Fail-fast would be wrong here even though every caller's work is
  * replay-idempotent (delete-then-append): an IN-PROCESS restart
  * (ChainIngest.runWithRestart, a foreachBatch replay after a query
  * restart in the same JVM) can begin replaying batch N while a stale
  * sibling append for the same batch is still running, landing rows
  * AFTER the replay's delete with no later replay to clean them. A JVM
  * crash has no such window — but settling is what makes the in-process
  * case as safe as the crash case.
  *
  * A dedicated pool, not the global ExecutionContext: store actions BLOCK
  * on Spark job completion, and blocking the global fork-join pool from
  * inside Spark (whose own code also uses it) invites starvation.
  */
object Par {
  private lazy val pool = ExecutionContext.fromExecutorService(
    Executors.newFixedThreadPool(8, r => {
      val t = new Thread(r, "graft-store-par")
      t.setDaemon(true)
      t
    }))

  /** Run the thunks concurrently; returns when ALL have settled, then
    * throws the FIRST (by input order) failure if any. Single-element and
    * empty input run inline — no pool round-trip for the common tiny case.
    *
    * `Future.sequence` alone would fail fast — its result fails the
    * moment any member fails, while siblings keep running — so each
    * future is lifted to a `Try` first and the sequence over lifted
    * futures completes only when every thunk has finished.
    */
  def run(thunks: Seq[() => Unit]): Unit =
    if (thunks.lengthCompare(1) <= 0) thunks.foreach(_.apply())
    else {
      implicit val ec: ExecutionContext = pool
      // each thunk's jobs carry the caller's job group and batch id, so a
      // stopped query cancels them and not another query's
      val carry = org.apache.spark.GraftLocalProperties.capture()
      val settled = Future.sequence(
        thunks.map(t => Future(carry(t)).map(scala.util.Success(_): scala.util.Try[Unit])
          .recover { case e => scala.util.Failure(e) }))
      Await.result(settled, Duration.Inf).collectFirst { case scala.util.Failure(e) => e }
        .foreach(throw _)
    }
}
