package graft.sources

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import scala.collection.mutable
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.chain.BalanceResolver
import graft.chain.Schemas._
import graft.streaming.{HeadSubscription, IngestMetrics}

/** S1/S2's production face: a polling JSON-RPC adapter behind the
  * [[HeadSubscription]] seam — the reference's WS `newHeads` subscription +
  * typed RPC client (client/subscriber.go:28-31, client/client.go:44-225)
  * re-expressed as poll-the-head (works against any plain HTTP endpoint; a
  * push subscription is strictly an optimization of the same seam).
  *
  * MULTI-ENDPOINT: the reference subscribes through a multi-node client
  * and rebinds its RPC affinity to whichever node delivered the latest
  * header (client/subscriber.go:28-31, service/indexer/indexer.go:148) —
  * the node that announced a block provably has it, while a lagging peer
  * may serve `null` for the same height. This adapter carries the same
  * notion: `endpoints` is an ordered set of equivalent nodes, every RPC
  * goes to the current AFFINITY endpoint, a transport failure fails over
  * to the next node (sticky — the survivor keeps the affinity), and the
  * push face rebinds affinity to the node whose subscription stream
  * delivered the head. RPC-level errors (the node answered with an
  * `error` member) do NOT fail over: the node is alive and the request
  * itself is bad — retrying it elsewhere would just duplicate the error.
  *
  * Per new height the adapter issues the same per-block side-fetches the
  * reference's indexer does before inserting
  * (service/indexer/indexer.go:443-467): `eth_getUncleByBlockHashAndIndex`
  * per uncle ref, one `eth_getTransactionReceipt` per tx and
  * `debug_getTransferLogs(blockHash)` (the modified-geth call,
  * client/client.go:150-155). The reference sends them one request at a
  * time; here they go out as ONE JSON-RPC batch array after
  * `eth_getBlockByNumber(n, full)`, so a block costs two round trips
  * whatever its tx count (arrays are split at
  * [[graft.chain.BalanceResolver.DefaultChunkSize]] elements, geth's
  * default batch limit). Assembled [[Bundle]]s append to the same in-order
  * queue the DSv2 source reads, so offsets/replay semantics are identical
  * to the in-memory feed.
  *
  * `byHash` serves the ingest fold's ancestor fetch-back
  * (`getBlockByHash`, indexer.go:370-406) — first from bundles already
  * pulled, then live via `eth_getBlockByHash`: a branch whose ancestors
  * were never delivered by number (the node reorganized between polls)
  * still lands.
  *
  * Scale shape: the adapter is DRIVER-side (like the reference's single WS
  * client); executors only read planned micro-batches. Wire quantities are
  * geth-style 0x-hex; wei values parse to decimal strings, never through a
  * Long.
  */
class JsonRpcFeed(endpoints: Seq[String], startBlock: Long,
                  protected val httpTimeoutMs: Int) extends HeadSubscription {
  require(endpoints.nonEmpty, "at least one endpoint required")

  def this(endpoint: String, startBlock: Long = 1L, httpTimeoutMs: Int = 30000) =
    this(Seq(endpoint), startBlock, httpTimeoutMs)

  /** Index of the endpoint currently holding RPC affinity. Volatile, not
    * locked: a race between a failover and a rebind settles on SOME live
    * node either way, and every call re-reads it.
    */
  @volatile private var affinity: Int = 0

  /** The endpoint RPCs currently go to — observable for tests/telemetry. */
  def activeEndpoint: String = endpoints(affinity)

  /** Rebind RPC affinity to endpoint `i` — the push face calls this with
    * the index of the node whose stream delivered a head.
    */
  protected def rebindTo(i: Int): Unit =
    if (i >= 0 && i < endpoints.size) affinity = i

  /** Where fetch time and failovers are counted; set by [[reportTo]]. */
  @volatile private var metrics: Option[IngestMetrics] = None

  /** Count this feed's fetches (`fetch_block`) and failovers
    * (`rpc_failover`) in `m`.
    */
  def reportTo(m: IngestMetrics): Unit = metrics = Some(m)

  private val mapper = new ObjectMapper
  private val buf = mutable.ArrayBuffer.empty[Bundle]
  private val idx = mutable.Map.empty[Seq[Byte], Bundle]
  private var polled = startBlock - 1
  // Serializes whole poll steps (cursor read → RPC fetch → append) so a
  // manual pollOnce() racing the daemon thread can't fetch a height twice
  // and enqueue duplicate bundles. Deliberately NOT `this`: the RPC fetch
  // blocks, and holding the instance lock through it would stall
  // latestSeq/range/byHash readers.
  private val pollLock = new Object
  @volatile private var pollThread: Option[Thread] = None

  // ---- HeadSubscription -----------------------------------------------

  override def latestSeq: Long = synchronized(buf.length.toLong)

  override def range(fromSeq: Long, toSeq: Long): Seq[Bundle] =
    synchronized(buf.slice(fromSeq.toInt, toSeq.toInt).toVector)

  override def byHash(hash: Seq[Byte]): Option[Bundle] =
    synchronized(idx.get(hash)).orElse(
      fetchBundle("eth_getBlockByHash", js(hex(hash.toArray)), js(true)))

  // ---- polling ---------------------------------------------------------

  /** Pull every height the node has beyond what was already pulled; returns
    * the number of new bundles. Deterministic single step — the unit tests'
    * entry; [[startPolling]] just loops it.
    *
    * `polled` advances only AFTER a height's bundle lands in the queue: a
    * transient RPC failure (thrown) or a block the node no longer serves
    * (null — it reorganized mid-poll) leaves the cursor in place, so the
    * next tick retries the same height instead of leaving a silent gap in
    * the in-order queue.
    */
  def pollOnce(): Int = pollLock.synchronized {
    pullUpTo(hexLong(call("eth_blockNumber")))
  }

  /** Pull heights (polled, latest] in order under [[pollLock]] — the shared
    * fetch core of the polling tick and the push face's head handler
    * ([[JsonRpcPushFeed]]): the trigger differs, the in-order queue
    * discipline doesn't. Callers must hold [[pollLock]].
    */
  protected def pullUpTo(latest: Long): Int = {
    var pulled = 0
    var serving = true
    while (serving && polled < latest) {
      fetchBundle("eth_getBlockByNumber", js(hexNum(polled + 1)), js(true)) match {
        case Some(b) =>
          synchronized { buf += b; idx(b.block.hash.toSeq) = b }
          polled += 1
          pulled += 1
        case None => serving = false // retry next tick with a fresh head
      }
    }
    pulled
  }

  /** Run `body` under the poll lock — the push face's entry to [[pullUpTo]]
    * without exposing the lock object itself.
    */
  protected def withPollLock[A](body: => A): A = pollLock.synchronized(body)

  /** Background daemon polling loop — production mode. */
  def startPolling(intervalMs: Long): Unit = synchronized {
    if (pollThread.isEmpty) {
      val t = new Thread(() => {
        while (!Thread.currentThread().isInterrupted) {
          try pollOnce() catch { case _: Exception => () } // transient RPC errors retry next tick
          try Thread.sleep(intervalMs) catch { case _: InterruptedException => Thread.currentThread().interrupt() }
        }
      }, "jsonrpc-feed-poll")
      t.setDaemon(true)
      t.start()
      pollThread = Some(t)
    }
  }

  def stopPolling(): Unit = synchronized {
    pollThread.foreach(_.interrupt())
    pollThread = None
  }

  // ---- RPC transport ---------------------------------------------------

  /** One RPC; an RPC-level `error` throws (see class doc). */
  private def call(method: String, params: JsonNode*): JsonNode =
    withFailover(mapper.writeValueAsBytes(request(0, method, params)))(resultOf(method, _))

  /** `calls` as JSON-RPC batch arrays of at most
    * [[BalanceResolver.DefaultChunkSize]] elements, one POST each; returns
    * the `result`s in request order, whatever order the node answers in.
    * Same rules as [[call]] per POST: a transport failure fails over, an
    * `error` in any element throws without failover.
    */
  private def batch(calls: Seq[(String, Seq[JsonNode])]): IndexedSeq[JsonNode] =
    calls.grouped(BalanceResolver.DefaultChunkSize).flatMap { chunk =>
      val arr = mapper.createArrayNode()
      chunk.zipWithIndex.foreach { case ((method, params), id) => arr.add(request(id, method, params)) }
      withFailover(mapper.writeValueAsBytes(arr)) { reply =>
        JsonRpcBatch.inOrder(reply, chunk.size).zip(chunk).map { case (resp, (method, _)) =>
          resultOf(method, resp)
        }
      }
    }.toIndexedSeq

  private def resultOf(method: String, resp: JsonNode): JsonNode = {
    val err = resp.get("error")
    if (err != null && !err.isNull)
      throw new RuntimeException(s"rpc error for $method: $err")
    resp.get("result")
  }

  private def request(id: Int, method: String, params: Seq[JsonNode]): ObjectNode = {
    val req = mapper.createObjectNode()
    req.put("jsonrpc", "2.0").put("id", id).put("method", method)
    val arr = req.putArray("params")
    params.foreach(arr.add)
    req
  }

  /** POST `body` with failover and `decode` the reply: try the affinity
    * endpoint, then the others in ring order. A transport failure
    * (connect/read — the node is down or unreachable — or a reply that is
    * not JSON-RPC) moves on and, on success elsewhere, REBINDS affinity to
    * the survivor so subsequent calls skip the dead node; when every
    * endpoint fails the last transport error propagates. Anything else
    * `decode` throws propagates at once.
    */
  private def withFailover[A](body: Array[Byte])(decode: JsonNode => A): A = {
    val start = affinity
    var lastTransport: java.io.IOException = null
    var attempt = 0
    while (attempt < endpoints.size) {
      val i = (start + attempt) % endpoints.size
      try {
        val result = decode(post(endpoints(i), body))
        if (attempt > 0) {
          affinity = i
          metrics.foreach(_.rpcFailover.incrementAndGet())
        }
        return result
      } catch {
        case e: java.io.IOException => lastTransport = e // dead node: next
      }
      attempt += 1
    }
    throw lastTransport
  }

  private def post(endpoint: String, body: Array[Byte]): JsonNode = {
    val conn = URI.create(endpoint).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/json")
      // a black-holed endpoint must fail the call, not hang the poll
      // thread (or the ingest driver through a byHash fetch-back) forever
      conn.setConnectTimeout(httpTimeoutMs)
      conn.setReadTimeout(httpTimeoutMs)
      conn.setDoOutput(true)
      conn.getOutputStream.write(body)
      mapper.readTree(conn.getInputStream)
    } finally conn.disconnect()
  }

  private def js(v: String): JsonNode  = mapper.getNodeFactory.textNode(v)
  private def js(v: Boolean): JsonNode = mapper.getNodeFactory.booleanNode(v)

  // ---- wire decoding ---------------------------------------------------

  private def hex(b: Array[Byte]): String = "0x" + b.map("%02x".format(_)).mkString
  private def hexNum(n: Long): String = "0x" + java.lang.Long.toHexString(n)

  private def digits(n: JsonNode): String = {
    val h = n.asText("0x0").stripPrefix("0x")
    if (h.isEmpty) "0" else h
  }
  private def hexLong(n: JsonNode): Long = java.lang.Long.parseLong(digits(n), 16)
  private def hexBig(n: JsonNode): String = BigInt(digits(n), 16).toString
  private def hexBytes(n: JsonNode): Array[Byte] = {
    val h = digits(n)
    val p = if (h.length % 2 == 1) "0" + h else h
    p.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  }
  private def opt(n: JsonNode): Option[JsonNode] = Option(n).filterNot(_.isNull)
  private def elems(n: JsonNode): Seq[JsonNode] = opt(n).toSeq.flatMap { a =>
    val it = a.elements(); val b = mutable.ArrayBuffer.empty[JsonNode]
    while (it.hasNext) b += it.next(); b.toSeq
  }

  private def parseTx(t: JsonNode): Tx = Tx(
    hash     = hexBytes(t.get("hash")),
    from     = hexBytes(t.get("from")),
    to       = opt(t.get("to")).map(hexBytes),
    nonce    = hexLong(t.get("nonce")),
    gasPrice = hexLong(t.get("gasPrice")),
    gasLimit = hexLong(t.get("gas")),
    amount   = hexBig(t.get("value")),
    payload  = opt(t.get("input")).map(hexBytes).getOrElse(Array.empty))

  private def parseReceipt(r: JsonNode): Receipt = Receipt(
    root              = opt(r.get("root")).map(hexBytes),
    status            = opt(r.get("status")).map(hexLong(_).toInt).getOrElse(1),
    cumulativeGasUsed = hexLong(r.get("cumulativeGasUsed")),
    gasUsed           = hexLong(r.get("gasUsed")),
    bloom             = opt(r.get("logsBloom")).map(hexBytes).getOrElse(Array.empty),
    txHash            = hexBytes(r.get("transactionHash")),
    contractAddress   = opt(r.get("contractAddress")).map(hexBytes),
    blockNumber       = hexLong(r.get("blockNumber")),
    logs = elems(r.get("logs")).map(l => LogEntry(
      contractAddress = hexBytes(l.get("address")),
      topics          = elems(l.get("topics")).map(hexBytes),
      data            = opt(l.get("data")).map(hexBytes).getOrElse(Array.empty))))

  private def parseTransferLog(l: JsonNode): TransferLog = TransferLog(
    txHash      = hexBytes(l.get("txHash")),
    from        = hexBytes(l.get("from")),
    to          = hexBytes(l.get("to")),
    value       = hexBig(l.get("value")),
    blockNumber = hexLong(l.get("blockNumber")))

  /** Fetch a block by `method` and assemble its bundle, timing the whole
    * fetch into `fetch_block` when it lands.
    */
  private def fetchBundle(method: String, params: JsonNode*): Option[Bundle] = {
    val t0 = System.nanoTime()
    val bundle = bundleOf(call(method, params: _*))
    if (bundle.isDefined) metrics.foreach(_.fetchBlock.observe((System.nanoTime() - t0) / 1e9))
    bundle
  }

  /** Block JSON (+ its side-fetches, one batch) → one ingest bundle; None
    * when the node doesn't have the block.
    */
  private def bundleOf(node: JsonNode): Option[Bundle] = opt(node).map { b =>
    val blockHash = hexBytes(b.get("hash"))
    val txs = elems(b.get("transactions")).map(parseTx)
    val nUncles = elems(b.get("uncles")).size
    // side-fetch results must exist: a null (the node reorganized between
    // the block fetch and this call) fails the height LOUDLY — pollOnce
    // retries it next tick; landing a bundle with silently-missing
    // receipts/uncles would corrupt the ingested tables
    def required(n: JsonNode, what: String): JsonNode = opt(n).getOrElse(
      throw new IllegalStateException(s"node no longer serves $what of block ${hex(blockHash)}"))
    val side = batch(
      (0 until nUncles).map(i =>
        "eth_getUncleByBlockHashAndIndex" -> Seq(js(hex(blockHash)), js(hexNum(i)))) ++
      txs.map(t => "eth_getTransactionReceipt" -> Seq(js(hex(t.hash)))) :+
      ("debug_getTransferLogs" -> Seq(js(hex(blockHash)))))
    val uncles = (0 until nUncles).map { i =>
      val u = required(side(i), s"uncle $i")
      UncleRef(hexBytes(u.get("hash")), hexBytes(u.get("miner")), hexLong(u.get("number")))
    }
    val receipts = txs.zipWithIndex.map { case (t, i) =>
      parseReceipt(required(side(nUncles + i), s"receipt of tx ${hex(t.hash)}"))
    }
    val transferLogs = elems(side.last).map(parseTransferLog)
    val block = Block(
      number      = hexLong(b.get("number")),
      hash        = blockHash,
      parentHash  = hexBytes(b.get("parentHash")),
      uncleHash   = opt(b.get("sha3Uncles")).map(hexBytes).getOrElse(Array.empty),
      coinbase    = opt(b.get("miner")).map(hexBytes).getOrElse(Array.empty),
      root        = opt(b.get("stateRoot")).map(hexBytes).getOrElse(Array.empty),
      txHash      = opt(b.get("transactionsRoot")).map(hexBytes).getOrElse(Array.empty),
      receiptHash = opt(b.get("receiptsRoot")).map(hexBytes).getOrElse(Array.empty),
      difficulty  = hexLong(b.get("difficulty")),
      gasLimit    = hexLong(b.get("gasLimit")),
      gasUsed     = hexLong(b.get("gasUsed")),
      time        = hexLong(b.get("timestamp")),
      extraData   = opt(b.get("extraData")).map(hexBytes).getOrElse(Array.empty),
      mixDigest   = opt(b.get("mixHash")).map(hexBytes).getOrElse(Array.empty),
      nonce       = opt(b.get("nonce")).map(hexBytes).getOrElse(Array.empty),
      transactions = txs,
      uncles       = uncles)
    Bundle(block, receipts, transferLogs)
  }
}
