package graft.sources

import java.net.InetSocketAddress
import java.nio.file.Files
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions.col
import graft.SparkSpec
import graft.chain._
import graft.chain.Fixtures._
import graft.chain.Schemas._
import graft.streaming._

/** Geth-shaped JSON-RPC stub over fixture bundles — a local HTTP server
  * (no real network) speaking the calls the adapter issues, single and in
  * batch arrays. The canonical chain is swappable mid-test to emulate the
  * node reorganizing between polls; the `var` switches below make it
  * answer batches out of order, withhold or fail a method, or mangle a
  * batch reply outright.
  */
final class RpcStub {
  private val mapper = new ObjectMapper
  @volatile private var canonical = Map.empty[Long, Bundle]
  @volatile private var byHash    = Map.empty[String, Bundle]
  @volatile private var receipts  = Map.empty[String, Receipt]
  private val blockNumberCalls = new java.util.concurrent.atomic.AtomicInteger
  private val blockByNumberCalls = new java.util.concurrent.atomic.AtomicInteger
  private val posts = new java.util.concurrent.atomic.AtomicInteger
  private val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]
  @volatile private var subscribers = List.empty[java.io.OutputStream]

  /** Answer batch arrays in reverse order (the spec lets a server reorder). */
  @volatile var reverseBatches = false
  /** Methods answered with a null `result` (the node no longer has it). */
  @volatile var withheld = Set.empty[String]
  /** Methods answered with an `error` member instead of a result. */
  @volatile var failing = Set.empty[String]
  /** Rewrites every batch reply before it is sent — a hostile node. */
  @volatile var mangleBatch: Option[ArrayNode => JsonNode] = None

  /** HTTP POSTs to the RPC endpoint — round trips, whatever each carried. */
  def postCount: Int = posts.get
  /** The element count of every batch array received, in arrival order. */
  def batchSizesSeen: Seq[Int] = batchSizes.toArray.toSeq.map(_.asInstanceOf[Integer].toInt)

  /** How often the client asked for the head by polling — the push-face
    * test asserts this stays ZERO.
    */
  def blockNumberCallCount: Int = blockNumberCalls.get

  /** How often the client fetched a block by number from THIS node — the
    * affinity tests assert fetches follow the delivering node.
    */
  def blockByNumberCallCount: Int = blockByNumberCalls.get
  def subscriberCount: Int = subscribers.size

  /** Push a `newHeads`-shaped notification line to every open /subscribe
    * stream (geth's WS payload carries the header; number + hash are what
    * the adapter consumes).
    */
  def pushHead(b: Bundle): Unit = {
    val line = s"""{"number":"${hxNum(b.block.number)}","hash":"${hx(b.block.hash)}"}""" + "\n"
    val bytes = line.getBytes("UTF-8")
    subscribers.foreach { os =>
      try { os.write(bytes); os.flush() } catch { case _: Exception => () }
    }
  }

  def setCanonical(chain: Seq[Bundle]): Unit = {
    canonical = chain.map(b => b.block.number -> b).toMap
    byHash    = byHash ++ chain.map(b => hx(b.block.hash) -> b)
    receipts  = receipts ++ chain.flatMap(_.receipts).map(r => hx(r.txHash) -> r)
  }

  private def hx(b: Array[Byte]): String = "0x" + b.map("%02x".format(_)).mkString
  private def hxNum(n: Long): String = "0x" + java.lang.Long.toHexString(n)
  private def hxBig(dec: String): String = "0x" + BigInt(dec).toString(16)

  private def txJson(t: Tx): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("hash", hx(t.hash)).put("from", hx(t.from))
      .put("nonce", hxNum(t.nonce)).put("gasPrice", hxNum(t.gasPrice))
      .put("gas", hxNum(t.gasLimit)).put("value", hxBig(t.amount))
      .put("input", hx(t.payload))
    t.to.fold[ObjectNode](o.putNull("to").asInstanceOf[ObjectNode])(a => o.put("to", hx(a)))
    o
  }

  private def blockJson(b: Bundle): ObjectNode = {
    val k = b.block
    val o = mapper.createObjectNode()
    o.put("number", hxNum(k.number)).put("hash", hx(k.hash))
      .put("parentHash", hx(k.parentHash)).put("sha3Uncles", hx(k.uncleHash))
      .put("miner", hx(k.coinbase)).put("stateRoot", hx(k.root))
      .put("transactionsRoot", hx(k.txHash)).put("receiptsRoot", hx(k.receiptHash))
      .put("difficulty", hxNum(k.difficulty)).put("gasLimit", hxNum(k.gasLimit))
      .put("gasUsed", hxNum(k.gasUsed)).put("timestamp", hxNum(k.time))
      .put("extraData", hx(k.extraData)).put("mixHash", hx(k.mixDigest))
      .put("nonce", hx(k.nonce))
    val txs = o.putArray("transactions")
    k.transactions.foreach(t => txs.add(txJson(t)))
    val uncles = o.putArray("uncles")
    k.uncles.foreach(u => uncles.add(hx(u.hash)))
    o
  }

  private def uncleJson(u: UncleRef): ObjectNode =
    mapper.createObjectNode()
      .put("hash", hx(u.hash)).put("miner", hx(u.coinbase)).put("number", hxNum(u.number))

  private def receiptJson(r: Receipt): ObjectNode = {
    val o = mapper.createObjectNode()
    r.root.foreach(b => o.put("root", hx(b)))
    o.put("status", hxNum(r.status.toLong))
      .put("cumulativeGasUsed", hxNum(r.cumulativeGasUsed))
      .put("gasUsed", hxNum(r.gasUsed)).put("logsBloom", hx(r.bloom))
      .put("transactionHash", hx(r.txHash)).put("blockNumber", hxNum(r.blockNumber))
    r.contractAddress.foreach(a => o.put("contractAddress", hx(a)))
    val logs = o.putArray("logs")
    r.logs.foreach { l =>
      val lo = mapper.createObjectNode()
      lo.put("address", hx(l.contractAddress)).put("data", hx(l.data))
      val ts = lo.putArray("topics")
      l.topics.foreach(t => ts.add(hx(t)))
      logs.add(lo)
    }
    o
  }

  private def transferLogsJson(b: Bundle): ArrayNode = {
    val a = mapper.createArrayNode()
    b.transferLogs.foreach { l =>
      a.add(mapper.createObjectNode()
        .put("txHash", hx(l.txHash)).put("from", hx(l.from)).put("to", hx(l.to))
        .put("value", hxBig(l.value)).put("blockNumber", hxNum(l.blockNumber)))
    }
    a
  }

  /** The deterministic balance model every fixture client uses —
    * bal(addr, hash) = addr-mod-10^20 + hash's first byte — so Indexer
    * assertions can share the specs' expected values.
    */
  private def bal(addr: Array[Byte], hash: Array[Byte]): BigInt =
    (BigInt(1, addr) % BigInt(10).pow(20)) + (if (hash.nonEmpty) (hash(0) & 0xff).toLong else 0L)

  private def hexToBytes(s: String): Array[Byte] =
    s.stripPrefix("0x").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def hexUint(v: BigInt): String = "0x" + v.toString(16)

  /** EIP-1898 anchor: an object `{"blockHash": …}` or the tag "latest". */
  private def anchorHash(n: JsonNode): Array[Byte] =
    if (n.isObject) hexToBytes(n.get("blockHash").asText)
    else if (canonical.isEmpty) Array.emptyByteArray
    else canonical(canonical.keys.max).block.hash

  private def abiString(s: String): String = {
    val b = s.getBytes("UTF-8")
    val data = b.map("%02x".format(_)).mkString.padTo(((b.length + 31) / 32) * 64, '0')
    "0x" + "0" * 62 + "20" + "%064x".format(b.length) + data
  }

  private def dispatch(method: String, params: ArrayNode): JsonNode = method match {
    case "eth_getBalance" =>
      val addr = hexToBytes(params.get(0).asText)
      mapper.getNodeFactory.textNode(hexUint(bal(addr, anchorHash(params.get(1)))))
    case "eth_call" =>
      val data = params.get(0).get("data").asText.stripPrefix("0x")
      val out = data.take(8) match {
        case "70a08231" => // balanceOf(address): arg = 12B pad + 20B addr
          hexUint(bal(hexToBytes(data.slice(8 + 24, 8 + 64)), anchorHash(params.get(1))))
        case "18160ddd" => hexUint(BigInt(10).pow(21)) // totalSupply()
        case "313ce567" => hexUint(BigInt(18))         // decimals()
        case "06fdde03" => abiString("Stub Token")     // name()
        case other => throw new IllegalArgumentException(s"unexpected eth_call selector $other")
      }
      mapper.getNodeFactory.textNode(out)
    case "eth_blockNumber" =>
      blockNumberCalls.incrementAndGet()
      mapper.getNodeFactory.textNode(hxNum(if (canonical.isEmpty) 0L else canonical.keys.max))
    case "eth_getBlockByNumber" =>
      blockByNumberCalls.incrementAndGet()
      val n = java.lang.Long.parseLong(params.get(0).asText.stripPrefix("0x"), 16)
      canonical.get(n).map(blockJson).getOrElse(mapper.nullNode())
    case "eth_getBlockByHash" =>
      byHash.get(params.get(0).asText).map(blockJson).getOrElse(mapper.nullNode())
    case "eth_getTransactionReceipt" =>
      receipts.get(params.get(0).asText).map(receiptJson).getOrElse(mapper.nullNode())
    case "debug_getTransferLogs" =>
      byHash.get(params.get(0).asText).map(transferLogsJson).getOrElse(mapper.createArrayNode())
    case "eth_getUncleByBlockHashAndIndex" =>
      val i = java.lang.Integer.parseInt(params.get(1).asText.stripPrefix("0x"), 16)
      byHash.get(params.get(0).asText).flatMap(_.block.uncles.lift(i)).map(uncleJson)
        .getOrElse(mapper.nullNode())
    case other => throw new IllegalArgumentException(s"unexpected rpc method $other")
  }

  private var server: HttpServer = _
  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (x: HttpExchange) => {
      posts.incrementAndGet()
      val req = mapper.readTree(x.getRequestBody)
      def one(r: JsonNode): ObjectNode = {
        val resp = mapper.createObjectNode()
        resp.put("jsonrpc", "2.0").put("id", r.path("id").asInt(1))
        val method = r.get("method").asText
        if (failing(method))
          resp.putObject("error").put("code", -32000).put("message", s"$method failed")
        else resp.set[ObjectNode]("result",
          if (withheld(method)) mapper.nullNode()
          else dispatch(method, r.get("params").asInstanceOf[ArrayNode]))
        resp
      }
      // the batched array form (the clients' one-POST arrays)
      val body = mapper.writeValueAsBytes(
        if (req.isArray) {
          batchSizes.add(req.size)
          val arr = mapper.createArrayNode()
          val elems = (0 until req.size).map(req.get)
          (if (reverseBatches) elems.reverse else elems).foreach(r => arr.add(one(r)))
          mangleBatch.fold[JsonNode](arr)(_(arr))
        } else one(req))
      x.getResponseHeaders.add("Content-Type", "application/json")
      x.sendResponseHeaders(200, body.length.toLong)
      x.getResponseBody.write(body)
      x.close()
    })
    // the push face: a chunked-transfer stream held open per subscriber —
    // the handler registers the exchange and returns; pushHead writes
    // notification chunks from the test thread
    server.createContext("/subscribe", (x: HttpExchange) => {
      x.getResponseHeaders.add("Content-Type", "application/x-ndjson")
      x.sendResponseHeaders(200, 0)
      subscribers = x.getResponseBody :: subscribers
    })
    server.start()
    server.getAddress.getPort
  }
  def stop(): Unit = if (server != null) server.stop(0)
}

/** The polling JSON-RPC adapter driving the FULL lifecycle end-to-end
  * against the stub node — including an ancestor served only through the
  * live `eth_getBlockByHash` fetch-back (the node reorganized between
  * polls, so the winning branch's parent was never delivered by number).
  */
class JsonRpcFeedSpec extends SparkSpec {
  import spark.implicits._

  private def hashAt(store: TableStore, n: Long): Array[Byte] =
    store.readRange(ChainIngest.HeadersTable, "number", n, n, null)
      .select("hash").head().getAs[Array[Byte]](0)

  test("FullIngest end-to-end through the adapter, with a served byHash fetch-back") {
    val t2 = tx(1, alice, carol, 500, gasPrice = 100L)
    val main = bundleChain(1, 4, hash32(0), txsAt = Map(2L -> Seq(t2)),
      withTransferLogs = true)
    val fork = bundleChain(4, 5, main(2).block.hash, difficulty = 5000L,
      hashSeedBase = 900, withTransferLogs = true)

    val stub = new RpcStub
    stub.setCanonical(main)
    val port = stub.start()
    try {
      val feed = new JsonRpcFeed(s"http://127.0.0.1:$port/")
      assert(feed.pollOnce() == 4)

      val subId = "rpc-feed"
      HeadSubscriptions.register(subId, feed)
      val store = TableStore(spark, Files.createTempDirectory("graft-rpc").toString)
      store.replace(BalanceIngest.SubsTable,
        Seq((1L, 1L, 1L, alice)).toDF("id", "block_number", "group", "address"))
      val client = BlockAwareBalanceClient(spark.sparkContext.longAccumulator("rpc"))
      val bundles = spark.readStream
        .format(classOf[BundleStreamProvider].getName)
        .option(BundleStream.SubscriptionOption, subId)
        .option(BundleStream.MaxBlocksOption, "3")
        .load()
      val q = FullIngest.start(bundles, store, client,
        Files.createTempDirectory("graft-rpc-ckpt").toString, fetchBack = feed.byHash)
      try {
        q.processAllAvailable()
        assert(ChainIngest.loadHead(store).exists(_.number == 4L))
        // the wire round-trip preserved payload values: block 2's tx landed
        // with its gas price, and the balance pipeline saw the transfer
        val gasPrice = store.readRange(ChainIngest.TxTable, "block_number", 2L, 2L, null)
          .select("gas_price").head().getLong(0)
        assert(gasPrice == 100L)
        assert(store.readRange(BalanceIngest.TotalsTable, "block_number", 2L, 2L, null)
          .filter(col("group") === 1L).count() == 1L)

        // node reorganizes: 4'/5' (heavier) replace 4 — only height 5 is
        // NEW to the poller, so 4' must arrive via the live fetch-back
        stub.setCanonical(main.take(3) ++ fork)
        assert(feed.pollOnce() == 1)
        q.processAllAvailable()
        assert(ChainIngest.loadHead(store).exists(_.number == 5L))
        assert(hashAt(store, 4L).toSeq == fork.head.block.hash.toSeq,
          "the winning branch's parent must land through eth_getBlockByHash")
      } finally q.stop()
    } finally stub.stop()
  }

  private def eventually[A](what: String, timeoutMs: Long = 15000L)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      assert(System.currentTimeMillis() < deadline, s"timed out waiting for $what")
      Thread.sleep(20)
    }
  }

  test("push face: heads arrive through the subscription stream, never a poll tick") {
    val main = bundleChain(1, 5, hash32(0), withTransferLogs = true)
    val stub = new RpcStub
    stub.setCanonical(main.take(3))
    val port = stub.start()
    val feed = new JsonRpcPushFeed(
      s"http://127.0.0.1:$port/", s"http://127.0.0.1:$port/subscribe")
    try {
      feed.startSubscription()
      eventually("subscriber connect")(stub.subscriberCount >= 1)
      assert(feed.latestSeq == 0L, "nothing may arrive before the first head is pushed")

      // one pushed head pulls the whole backlog behind it, in order
      stub.pushHead(main(2))
      eventually("backlog pull")(feed.latestSeq == 3L)
      assert(feed.range(0, 3).map(_.block.number) == Seq(1L, 2L, 3L))

      // node advances two heights but only announces the LAST — the
      // announced bound heals the gap (a lost notification is harmless)
      stub.setCanonical(main)
      stub.pushHead(main(4))
      eventually("gap heal")(feed.latestSeq == 5L)
      assert(feed.range(3, 5).map(_.block.number) == Seq(4L, 5L))

      // a duplicate / stale announcement is a no-op against the cursor
      stub.pushHead(main(3))
      Thread.sleep(100)
      assert(feed.latestSeq == 5L)

      assert(stub.blockNumberCallCount == 0,
        "the push path must never fall back to eth_blockNumber polling")
    } finally {
      feed.stopSubscription()
      stub.stop()
    }
  }

  /** A bundle as plain values (byte arrays compare by content). */
  private def deep(x: Any): Any = x match {
    case a: Array[Byte] => a.toSeq
    case s: Seq[_]      => s.map(deep)
    case o: Option[_]   => o.map(deep)
    case p: Product     => p.productIterator.map(deep).toList
    case other          => other
  }

  private def withStub[A](chain: Seq[Bundle])(body: (RpcStub, String) => A): A = {
    val stub = new RpcStub
    stub.setCanonical(chain)
    val port = stub.start()
    try body(stub, s"http://127.0.0.1:$port/") finally stub.stop()
  }

  test("a block costs two POSTs: the block, then one batch of its side-fetches") {
    val main = bundleChain(1, 2, hash32(0), withTransferLogs = true, txsAt = Map(
      1L -> Seq(tx(1, alice, carol, 5), tx(2, bob, carol, 6)),
      2L -> Seq(tx(3, carol, alice, 7))))
    val fork = bundleChain(2, 2, main.head.block.hash, hashSeedBase = 500,
      withTransferLogs = true, txsAt = Map(2L -> Seq(tx(4, alice, bob, 8))))
    withStub(main) { (stub, url) =>
      val feed = new JsonRpcFeed(url)
      assert(feed.pollOnce() == 2)
      assert(stub.postCount == 1 + 2 * 2, "one head poll, then two POSTs per block")
      // receipts + transfer logs; the transfer-log call ends each batch
      assert(stub.batchSizesSeen == Seq(3, 2))
      assert(feed.range(0, 2).map(_.receipts.map(_.txHash.toSeq)) ==
        main.map(_.receipts.map(_.txHash.toSeq)))

      // an ancestor never pulled by number: the fetch-back costs two as well
      stub.setCanonical(main.take(1) ++ fork)
      val before = stub.postCount
      val got = feed.byHash(fork.head.block.hash.toSeq)
      assert(stub.postCount - before == 2)
      assert(got.map(_.block.hash.toSeq).contains(fork.head.block.hash.toSeq))
      assert(got.get.receipts.map(_.txHash.toSeq) == fork.head.receipts.map(_.txHash.toSeq))
      assert(got.get.transferLogs.size == 1)
    }
  }

  test("a batch answered in reverse order yields the identical bundle") {
    val txs = (1 to 3).map(i => tx(i, alice, carol, 10 * i))
    val uncles = Seq(UncleRef(hash32(71), addr20(72), 1L), UncleRef(hash32(73), addr20(74), 1L))
    val b0 = bundleChain(2, 2, hash32(0), txsAt = Map(2L -> txs), withTransferLogs = true).head
    val b = b0.copy(block = b0.block.copy(uncles = uncles))
    def fetched(reverse: Boolean): Bundle = withStub(Seq(b)) { (stub, url) =>
      stub.reverseBatches = reverse
      val feed = new JsonRpcFeed(url, startBlock = 2L)
      assert(feed.pollOnce() == 1)
      assert(stub.batchSizesSeen == Seq(uncles.size + txs.size + 1))
      feed.range(0, 1).head
    }
    val (inOrder, reversed) = (fetched(reverse = false), fetched(reverse = true))
    assert(deep(reversed) == deep(inOrder))
    assert(reversed.block.uncles.map(_.hash.toSeq) == uncles.map(_.hash.toSeq))
    assert(reversed.receipts.map(_.txHash.toSeq) == txs.map(_.hash.toSeq))
    assert(reversed.transferLogs.map(_.value) == txs.map(_.amount))
  }

  test("a null receipt or an error element fails the height; the next tick lands it") {
    val main = bundleChain(1, 1, hash32(0), withTransferLogs = true,
      txsAt = Map(1L -> Seq(tx(1, alice, carol, 5), tx(2, bob, carol, 6))))
    withStub(main) { (stub, url) =>
      withStub(main) { (spare, spareUrl) =>
        val feed = new JsonRpcFeed(Seq(url, spareUrl), startBlock = 1L, httpTimeoutMs = 5000)

        stub.withheld = Set("eth_getTransactionReceipt")
        val gone = intercept[IllegalStateException](feed.pollOnce())
        assert(gone.getMessage.contains("receipt of tx"))
        assert(feed.latestSeq == 0L, "nothing may land with a receipt missing")

        stub.withheld = Set.empty
        stub.failing = Set("debug_getTransferLogs")
        val err = intercept[RuntimeException](feed.pollOnce())
        assert(err.getMessage.contains("rpc error for debug_getTransferLogs"))
        assert(feed.latestSeq == 0L)
        // an RPC error is the request's fault, not the node's: no failover
        assert(feed.activeEndpoint == url && spare.postCount == 0)

        stub.failing = Set.empty
        assert(feed.pollOnce() == 1, "the cursor stayed, so the next tick lands the height")
        assert(feed.range(0, 1).head.receipts.size == 2)
      }
    }
  }

  test("a 1,001-tx block goes out in batches of at most 1000 elements and lands whole") {
    val txs = (1 to 1001).map { i =>
      tx(i, alice, carol, i).copy(hash = java.nio.ByteBuffer.allocate(32).putInt(28, i).array())
    }
    val main = bundleChain(1, 1, hash32(0), txsAt = Map(1L -> txs), withTransferLogs = true)
    withStub(main) { (stub, url) =>
      val feed = new JsonRpcFeed(url)
      assert(feed.pollOnce() == 1)
      assert(stub.batchSizesSeen == Seq(1000, 2), "1001 receipts + the transfer-log call")
      assert(stub.postCount == 1 + 1 + 2)
      val got = feed.range(0, 1).head
      assert(got.receipts.map(_.txHash.toSeq) == txs.map(_.hash.toSeq))
      assert(got.transferLogs.map(_.txHash.toSeq) == txs.map(_.hash.toSeq))
    }
  }
}
