package graft.streaming

import java.nio.file.Files
import graft.SparkSpec
import graft.chain._
import graft.chain.Fixtures._

/** The observability facade: counters/gauges matching the reference's
  * operational metrics (new_block, insert_block latency,
  * new_subscription, changed_account_per_block — indexer.go:63-64,
  * transfer_processor.go:42-43) advance across batches, admissions, and a
  * reorg, and surface as a queryable table.
  */
class IngestMetricsSpec extends SparkSpec {
  import spark.implicits._

  test("counters and gauges advance across a batch, an admission, and a reorg") {
    val store = TableStore(spark, Files.createTempDirectory("graft-metrics").toString)
    val client = BlockAwareBalanceClient(spark.sparkContext.longAccumulator("metrics"))
    val m = new IngestMetrics

    // alice active from the start; every block carries one of her txs
    store.replace(BalanceIngest.SubsTable,
      Seq((1L, 1L, 1L, alice)).toDF("id", "block_number", "group", "address"))
    val txs = (1L to 4L).map(n => n -> Seq(tx(n.toInt, alice, carol, 500, gasPrice = 100L))).toMap
    val main = bundleChain(1, 4, hash32(0), 1000L, -1, txs, withTransferLogs = true)
    FullIngest.processBatch(spark, store, main.toDS().toDF(), client, metrics = Some(m))

    assert(m.newBlock.get() == 4L)
    assert(m.insertBlock.count == 1L)
    assert(m.insertBlock.sumSeconds > 0.0)
    assert(m.reorg.get() == 0L)
    // quiet span 1..4: alice touched every block → average gauge = 1
    assert(m.changedAccountPerBlock.get() == 1L)

    // bob subscribes → next batch's first block is an event block
    store.replace(BalanceIngest.SubsTable,
      store.readOr(BalanceIngest.SubsTable, null).unionByName(
        Seq((2L, 0L, 2L, bob)).toDF("id", "block_number", "group", "address")))
    val tail = bundleChain(5, 6, main.last.block.hash, 1000L, -1, Map.empty,
      withTransferLogs = true)
    FullIngest.processBatch(spark, store, tail.toDS().toDF(), client, metrics = Some(m))
    assert(m.newBlock.get() == 6L)
    assert(m.insertBlock.count == 2L)
    assert(m.newSubscription.get() == 1L, "bob's admission must gauge")

    // heavier, higher fork from 3 retracts 4..6 and lands the new branch
    // (admission ignores heads at ≤ current height, so the fork overtakes)
    val fork = bundleChain(4, 7, main(2).block.hash, 5000L, 77, Map.empty,
      withTransferLogs = true)
    FullIngest.processBatch(spark, store, fork.toDS().toDF(), client, metrics = Some(m))
    assert(m.reorg.get() == 1L)
    assert(m.retractedBlocks.get() == 3L)
    assert(m.newBlock.get() == 10L, "fork branch blocks count as landed")

    // surfaced as a queryable metrics table and a log line
    val table = m.toDF(spark).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(table("new_block") == 10.0)
    assert(table("reorg") == 1.0)
    assert(table("insert_block_count") == 3.0)
    assert(table.keys.exists(_.startsWith("insert_block_le_")))
    assert(m.logLine.contains("new_block=10"))
  }

  test("the RPC feed reports fetch time per bundle and failovers") {
    val main = bundleChain(1, 3, hash32(0), withTransferLogs = true,
      txsAt = Map(2L -> Seq(tx(1, alice, carol, 5))))
    val fork = bundleChain(3, 3, main(1).block.hash, hashSeedBase = 300, withTransferLogs = true)
    val live = new graft.sources.RpcStub
    live.setCanonical(main)
    val port = live.start()
    // a port with nothing listening: its connects are refused
    val dead = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    try {
      val m = new IngestMetrics
      val feed = new graft.sources.JsonRpcFeed(
        Seq(s"http://127.0.0.1:$dead/", s"http://127.0.0.1:$port/"), 1L, 2000)
      feed.reportTo(m)
      assert(feed.pollOnce() == 3)
      assert(m.rpcFailover.get() == 1L, "one move off the dead node, then affinity sticks")
      assert(m.fetchBlock.count == 3L)
      live.setCanonical(main.take(2) ++ fork)
      assert(feed.byHash(fork.head.block.hash.toSeq).isDefined)
      assert(feed.byHash(main.head.block.hash.toSeq).isDefined) // already pulled: no fetch
      assert(m.fetchBlock.count == 4L, "fetch-backs count, cached bundles don't")
      assert(m.fetchBlock.sumSeconds > 0.0 && m.fetchBlock.maxSeconds < 60.0)

      val table = m.snapshot.toMap
      assert(table("fetch_block_count") == 4.0)
      assert(table("fetch_block_le_inf") == 4.0)
      assert(table("rpc_failover") == 1.0)
      assert(m.logLine.contains("fetch_block_count=4"))
      assert(m.logLine.contains("rpc_failover=1"))
    } finally live.stop()
  }

  test("histogram buckets split plain heads from reorg heads") {
    val m = new IngestMetrics
    // a plain head lands near 6 s, a reorg head near 16 s
    Seq(6.0, 9.0, 12.0, 18.0).foreach(m.insertBlock.observe)
    assert(m.insertBlock.bucketCounts.count(_ == 1L) == 4, "each in a bucket of its own")
    val table = m.snapshot.toMap
    assert(table("insert_block_le_5.0") == 0.0)
    assert(table("insert_block_le_7.5") == 1.0)
    assert(table("insert_block_le_10.0") == 2.0)
    assert(table("insert_block_le_15.0") == 3.0)
    assert(table("insert_block_le_20.0") == 4.0)
    assert(table("insert_block_le_inf") == 4.0)
    // the earlier bounds stay, so their scraped series continue
    Seq(0.01, 0.1, 0.5, 1.0, 5.0, 10.0, 60.0).foreach { b =>
      assert(m.insertBlock.bounds.contains(b), s"bound $b")
    }
  }
}
