package graft.streaming

import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Latency histogram with fixed bucket bounds (seconds) plus
  * count/sum/min/max — the `insert_block` histogram of the reference
  * (service/indexer/indexer.go:63-64, observed at :164-165). Lock-free
  * atomics: observations come from the driver-side batch loop, reads from
  * anywhere. The bounds resolve where ingest latencies fall: a block
  * fetch near 0.03 s, a plain head near 6 s, a reorg head near 16 s.
  */
final class LatencyHistogram extends Serializable {
  val bounds: Array[Double] = Array(0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0,
    2.5, 5.0, 7.5, 10.0, 15.0, 20.0, 30.0, 60.0)
  private val buckets = new AtomicLongArray(bounds.length + 1)
  private val n = new AtomicLong
  private val sumNanos = new AtomicLong
  private val minNanos = new AtomicLong(Long.MaxValue)
  private val maxNanos = new AtomicLong(Long.MinValue)

  def observe(seconds: Double): Unit = {
    val idx = bounds.indexWhere(seconds <= _) match { case -1 => bounds.length; case i => i }
    buckets.incrementAndGet(idx)
    n.incrementAndGet()
    val nanos = (seconds * 1e9).toLong
    sumNanos.addAndGet(nanos)
    minNanos.accumulateAndGet(nanos, math.min)
    maxNanos.accumulateAndGet(nanos, math.max)
  }

  def count: Long = n.get()
  def sumSeconds: Double = sumNanos.get() / 1e9
  def minSeconds: Double = if (count == 0) 0.0 else minNanos.get() / 1e9
  def maxSeconds: Double = if (count == 0) 0.0 else maxNanos.get() / 1e9
  def bucketCounts: Seq[Long] = (0 to bounds.length).map(buckets.get)
}

/** Operational metrics for the composed ingest lifecycle — the counters and
  * gauges the reference exposes so the indexer is not operated blind:
  * `new_block` / `insert_block` (service/indexer/indexer.go:63-64,146,164),
  * `new_subscription` / `changed_account_per_block`
  * (store/transfer_processor.go:42-43), plus reorg counters (the reference
  * audits reorgs as `reorg_event` rows, store/store.go:344-355).
  *
  * Pass an instance to [[FullIngest.processBatch]] (or `start`); surface
  * via [[toDF]] as a queryable `metrics` table or [[logLine]] per batch.
  * Updates are driver-side set/inc on numbers the batch already computed —
  * no extra Spark jobs in the quiet path, one small count per EVENT block
  * (bounded by the 990 admission cap and the block's touched set). The
  * RPC feed adds its own two (`fetch_block`, `rpc_failover`) once handed
  * an instance through `JsonRpcFeed.reportTo`.
  */
final class IngestMetrics extends Serializable {
  /** Counter: canonical blocks landed (new_block, indexer.go:146). */
  val newBlock = new AtomicLong
  /** Counter: reorg retractions applied (the reference's reorg audit). */
  val reorg = new AtomicLong
  /** Counter: total heights retracted across reorgs. */
  val retractedBlocks = new AtomicLong
  /** Counter: subscriptions admitted (new_subscription,
    * transfer_processor.go:42,120-146 — the reference gauges the per-block
    * admission count; cumulative here so an admission mid-batch is not
    * erased by a later quiet span's zero).
    */
  val newSubscription = new AtomicLong
  /** Gauge: touched subscribed accounts per block, last block/span average
    * (changed_account_per_block, transfer_processor.go:43,92-119).
    */
  val changedAccountPerBlock = new AtomicLong
  /** Histogram: end-to-end batch ingest latency (insert_block). */
  val insertBlock = new LatencyHistogram
  /** Histogram: seconds the RPC feed takes to fetch and assemble one
    * block's bundle, head pulls and reorg fetch-backs alike (fetch_block).
    */
  val fetchBlock = new LatencyHistogram
  /** Counter: transport failures that moved the feed's RPC affinity to
    * another node (rpc_failover).
    */
  val rpcFailover = new AtomicLong
  /** Gauge: live data files per range table after the last batch, from
    * the store's cache-backed `fileCounts` (no listing, no job).
    */
  val tableFiles = new scala.collection.concurrent.TrieMap[String, Long]

  def snapshot: Seq[(String, Double)] = {
    val base = Seq(
      "new_block"                 -> newBlock.get().toDouble,
      "reorg"                     -> reorg.get().toDouble,
      "retracted_blocks"          -> retractedBlocks.get().toDouble,
      "new_subscription"          -> newSubscription.get().toDouble,
      "changed_account_per_block" -> changedAccountPerBlock.get().toDouble,
      "insert_block_count"        -> insertBlock.count.toDouble,
      "insert_block_sum_sec"      -> insertBlock.sumSeconds,
      "insert_block_min_sec"      -> insertBlock.minSeconds,
      "insert_block_max_sec"      -> insertBlock.maxSeconds,
      "fetch_block_count"         -> fetchBlock.count.toDouble,
      "fetch_block_sum_sec"       -> fetchBlock.sumSeconds,
      "fetch_block_min_sec"       -> fetchBlock.minSeconds,
      "fetch_block_max_sec"       -> fetchBlock.maxSeconds,
      "rpc_failover"              -> rpcFailover.get().toDouble)
    // `le`-named buckets follow the Prometheus cumulative convention: each
    // carries the count of observations ≤ its bound, and le_inf is the
    // total — a scraper reading these as histogram buckets sees the true
    // distribution, not per-bucket increments.
    def hist(name: String, h: LatencyHistogram): Seq[(String, Double)] = {
      val cumulative = h.bucketCounts.scanLeft(0L)(_ + _).tail
      h.bounds.zip(cumulative).map { case (b, c) =>
        s"${name}_le_$b" -> c.toDouble
      }.toSeq :+ (s"${name}_le_inf" -> cumulative.last.toDouble)
    }
    base ++ hist("insert_block", insertBlock) ++ hist("fetch_block", fetchBlock)
  }

  /** The metrics as a tiny queryable table (metric, value). */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    snapshot.toDF("metric", "value")
  }

  /** One compact per-batch log line (the reference logs the same numbers
    * through its Trace calls, indexer.go:166).
    */
  def logLine: String =
    f"ingest new_block=${newBlock.get()} reorg=${reorg.get()} " +
      f"retracted=${retractedBlocks.get()} new_subscription=${newSubscription.get()} " +
      f"changed_accounts=${changedAccountPerBlock.get()} " +
      f"insert_block_count=${insertBlock.count} insert_block_avg_sec=${avg(insertBlock)}%.3f " +
      f"fetch_block_count=${fetchBlock.count} fetch_block_avg_sec=${avg(fetchBlock)}%.3f " +
      f"rpc_failover=${rpcFailover.get()}"

  private def avg(h: LatencyHistogram): Double =
    if (h.count == 0) 0.0 else h.sumSeconds / h.count
}
