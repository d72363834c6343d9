package graft.streaming

import java.nio.file.Files
import graft.SparkSpec
import graft.chain._
import graft.chain.Fixtures._

/** The `--metrics` HTTP surface (cmd/indexer/root.go:106-121): a live
  * FullIngest run's counters must be scrape-able over HTTP in the
  * Prometheus text format while the query runs — the reference's ops
  * contract, not a render unit test alone.
  */
class MetricsServerSpec extends SparkSpec {
  import spark.implicits._

  private def scrape(port: Int): String = {
    val conn = new java.net.URL(s"http://127.0.0.1:$port/metrics")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(5000); conn.setReadTimeout(5000)
    try {
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType.startsWith("text/plain"))
      new String(conn.getInputStream.readAllBytes(), "UTF-8")
    } finally conn.disconnect()
  }

  test("FullIngest counters serve over HTTP while the stream runs") {
    val store = TableStore(spark,
      Files.createTempDirectory("graft-msrv").toString)
    val subId = "metrics-http"
    val sub   = new QueueHeadSubscription
    HeadSubscriptions.register(subId, sub)
    store.replace(BalanceIngest.SubsTable,
      Seq((1L, 1L, 1L, alice)).toDF("id", "block_number", "group", "address"))
    sub.push(bundleChain(1, 5, hash32(0), withTransferLogs = true): _*)

    val metrics = new IngestMetrics
    val server  = MetricsServer.start(metrics, port = 0) // ephemeral
    val bundles = spark.readStream
      .format(classOf[BundleStreamProvider].getName)
      .option(BundleStream.SubscriptionOption, subId)
      .load()
    val checkpoint = Files.createTempDirectory("graft-msrv-ckpt").toString
    val client = BlockAwareBalanceClient(spark.sparkContext.longAccumulator("msrv"))
    val q = FullIngest.start(bundles, store, client, checkpoint,
      fetchBack = sub.byHash, metrics = Some(metrics))
    try {
      q.processAllAvailable()
      val body = scrape(server.port)
      // the reference's two headline metrics, as real scraped values
      val newBlock = body.linesIterator
        .find(_.startsWith("graft_new_block ")).map(_.split(' ')(1).toLong)
      assert(newBlock.contains(5L), s"new_block must count landed blocks:\n$body")
      val histCount = body.linesIterator
        .find(_.startsWith("graft_insert_block_seconds_count "))
        .map(_.split(' ')(1).toLong)
      assert(histCount.exists(_ >= 1L), s"insert_block histogram must observe batches:\n$body")
      assert(body.contains("graft_insert_block_seconds_bucket{le=\"+Inf\"}"))
      // cumulative buckets: +Inf equals the observation count
      val inf = body.linesIterator
        .find(_.startsWith("graft_insert_block_seconds_bucket{le=\"+Inf\"}"))
        .map(_.split(' ').last.toLong)
      assert(inf == histCount)
      // a second scrape reflects fresh observations, not a cached render
      sub.push(bundleChain(6, 6, hashOfHeight(store, 5L)): _*)
      q.processAllAvailable()
      val body2 = scrape(server.port)
      assert(body2.linesIterator.find(_.startsWith("graft_new_block "))
        .exists(_.split(' ')(1).toLong == 6L))
    } finally {
      q.stop()
      server.close()
    }
  }

  private def hashOfHeight(store: TableStore, n: Long): Array[Byte] =
    store.readRange(ChainIngest.HeadersTable, "number", n, n, null)
      .select("hash").head().getAs[Array[Byte]](0)

  test("render emits well-formed Prometheus text for an empty registry") {
    val m = new IngestMetrics
    val s = MetricsServer.render(m)
    assert(s.contains("# TYPE graft_new_block counter"))
    assert(s.contains("graft_new_block 0"))
    assert(s.contains("graft_insert_block_seconds_count 0"))
    assert(s.contains("# TYPE graft_rpc_failover counter"))
    assert(s.contains("graft_rpc_failover 0"))
    assert(s.contains("# TYPE graft_fetch_block_seconds histogram"))
    assert(s.contains("graft_fetch_block_seconds_count 0"))
    // every non-comment line is `name[{labels}] value`
    s.linesIterator.filterNot(_.startsWith("#")).foreach { l =>
      assert(l.split(' ').length == 2, s"malformed line: $l")
    }
  }

  test("render carries the feed's fetch histogram and failover counter") {
    val m = new IngestMetrics
    m.fetchBlock.observe(0.05)
    m.fetchBlock.observe(0.7)
    m.rpcFailover.incrementAndGet()
    val s = MetricsServer.render(m)
    assert(s.contains("graft_rpc_failover 1"))
    assert(s.contains("graft_fetch_block_seconds_bucket{le=\"0.01\"} 0"))
    assert(s.contains("graft_fetch_block_seconds_bucket{le=\"0.1\"} 1"))
    assert(s.contains("graft_fetch_block_seconds_bucket{le=\"1.0\"} 2"))
    assert(s.contains("graft_fetch_block_seconds_bucket{le=\"+Inf\"} 2"))
    assert(s.contains("graft_fetch_block_seconds_sum 0.750000"))
    assert(s.contains("graft_fetch_block_seconds_count 2"))
    // the insert_block histogram is its own series, untouched
    assert(s.contains("graft_insert_block_seconds_count 0"))
  }
}
