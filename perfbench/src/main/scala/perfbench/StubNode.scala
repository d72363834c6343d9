package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream}
import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.chain.Schemas._
import ChainGen.{hex, hexNum, unhex}

/** In-process Ethereum node stub serving a [[ChainGen]] world.
  *
  * HTTP JSON-RPC (single requests and batch arrays): `eth_blockNumber`,
  * `eth_getBlockByNumber`, `eth_getBlockByHash`,
  * `eth_getTransactionReceipt`, `debug_getTransferLogs`,
  * `eth_getUncleByBlockHashAndIndex`, `eth_getBalance` and `eth_call`
  * (`balanceOf`, `totalSupply`, `decimals`, `name`). WebSocket (RFC 6455)
  * `eth_subscribe newHeads`, with the current head replayed on subscribe.
  *
  * Counts calls and bytes per method, errors, and the time each block's
  * last feed fetch (`debug_getTransferLogs`) was served.
  */
final class StubNode(gen: ChainGen) {
  private val mapper = new ObjectMapper
  private val nf = mapper.getNodeFactory

  val calls = new ConcurrentHashMap[String, AtomicLong]()
  val bytesIn = new AtomicLong
  val bytesOut = new AtomicLong
  val errors = new AtomicLong
  /** block hash (hex) → epoch ms at which its transfer logs were served. */
  val fetchDoneMs = new ConcurrentHashMap[String, java.lang.Long]()

  private var http: HttpServer = _
  private var ws: ServerSocket = _
  private val pool = Executors.newFixedThreadPool(4)
  @volatile private var conns = List.empty[BufferedOutputStream]

  def httpUrl: String = s"http://127.0.0.1:${http.getAddress.getPort}/"
  def wsUrl: String = s"ws://127.0.0.1:${ws.getLocalPort}/"
  def subscribers: Int = conns.size
  def rpcCalls: Long = { var s = 0L; calls.values().forEach(v => s += v.get()); s }

  def start(): Unit = {
    http = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 64)
    http.createContext("/", (ex: HttpExchange) => serveHttp(ex))
    http.setExecutor(pool)
    http.start()
    ws = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    val t = new Thread(() => {
      try while (true) {
        val s = ws.accept()
        val h = new Thread(() => serveWs(s), "stub-ws-conn"); h.setDaemon(true); h.start()
      } catch { case _: Exception => () }
    }, "stub-ws-accept")
    t.setDaemon(true); t.start()
  }

  def stop(): Unit = {
    try ws.close() catch { case _: Exception => () }
    conns.foreach(o => try o.close() catch { case _: Exception => () })
    http.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  // ---- HTTP JSON-RPC -----------------------------------------------------

  private def serveHttp(ex: HttpExchange): Unit = {
    try {
      val body = ex.getRequestBody.readAllBytes()
      bytesIn.addAndGet(body.length)
      val req = mapper.readTree(body)
      val resp: JsonNode =
        if (req.isArray) {
          val out = mapper.createArrayNode()
          req.elements().forEachRemaining(r => out.add(answer(r)))
          out
        } else answer(req)
      val bytes = mapper.writeValueAsBytes(resp)
      bytesOut.addAndGet(bytes.length)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    } catch {
      case _: Exception =>
        errors.incrementAndGet()
        try ex.sendResponseHeaders(500, -1) catch { case _: Exception => () }
    } finally ex.close()
  }

  private def answer(r: JsonNode): ObjectNode = {
    val method = r.path("method").asText("")
    calls.computeIfAbsent(method, _ => new AtomicLong).incrementAndGet()
    val out = mapper.createObjectNode()
    out.put("jsonrpc", "2.0").set[JsonNode]("id", r.get("id"))
    try out.set[JsonNode]("result", dispatch(method, r.path("params").asInstanceOf[ArrayNode]))
    catch {
      case e: Exception =>
        errors.incrementAndGet()
        out.putObject("error").put("code", -32000).put("message", String.valueOf(e.getMessage))
    }
    out
  }

  private def anchorHash(n: JsonNode): Array[Byte] =
    if (n != null && n.isObject) unhex(n.get("blockHash").asText)
    else gen.head.map(_.block.hash).getOrElse(new Array[Byte](32))

  private def block(b: Option[Bundle], full: Boolean): JsonNode =
    b.fold[JsonNode](nf.nullNode())(x => blockJson(x, full))

  private def dispatch(method: String, p: ArrayNode): JsonNode = method match {
    case "eth_blockNumber" => nf.textNode(hexNum(gen.height))
    case "eth_getBlockByNumber" =>
      val n = java.lang.Long.parseLong(p.get(0).asText.stripPrefix("0x"), 16)
      val c = gen.chain
      block(if (n >= 1 && n <= c.length) Some(c((n - 1).toInt)) else None, p.path(1).asBoolean(false))
    case "eth_getBlockByHash" =>
      block(gen.byHash.get(unhex(p.get(0).asText).toSeq), p.path(1).asBoolean(false))
    case "eth_getTransactionReceipt" =>
      gen.receiptByTx.get(unhex(p.get(0).asText).toSeq).fold[JsonNode](nf.nullNode())(receiptJson)
    case "debug_getTransferLogs" =>
      val h = p.get(0).asText
      val out = gen.byHash.get(unhex(h).toSeq).fold[JsonNode](nf.nullNode())(transferLogsJson)
      fetchDoneMs.putIfAbsent(h, System.currentTimeMillis())
      out
    case "eth_getUncleByBlockHashAndIndex" => nf.nullNode() // generated blocks carry no uncles
    case "eth_getBalance" =>
      nf.textNode(hexUint(gen.balance(ChainGen.EthToken, unhex(p.get(0).asText), anchorHash(p.get(1)))))
    case "eth_call" =>
      val to = unhex(p.get(0).get("to").asText)
      val data = p.get(0).get("data").asText.stripPrefix("0x")
      val ti = gen.tokens.indexWhere(java.util.Arrays.equals(_, to))
      require(ti >= 0, s"eth_call to an unknown contract ${hex(to)}")
      nf.textNode(data.take(8) match {
        case "70a08231" => hexUint(gen.balance(to, unhex(data.slice(8 + 24, 8 + 64)), anchorHash(p.get(1))))
        case "18160ddd" => hexUint(BigInt(10).pow(27))
        case "313ce567" => hexUint(BigInt(18))
        case "06fdde03" => abiString(gen.tokenNames(ti))
        case other => throw new IllegalArgumentException(s"unexpected eth_call selector $other")
      })
    case other => throw new IllegalArgumentException(s"method not found: $other")
  }

  private def hexUint(v: BigInt): String = "0x" + v.toString(16)

  private def abiString(s: String): String = {
    val b = s.getBytes(UTF_8)
    val data = b.map("%02x".format(_)).mkString.padTo(((b.length + 31) / 32) * 64, '0')
    "0x" + "0" * 62 + "20" + "%064x".format(b.length) + data
  }

  private def blockJson(b: Bundle, full: Boolean): ObjectNode = {
    val k = b.block
    val o = mapper.createObjectNode()
    o.put("number", hexNum(k.number)).put("hash", hex(k.hash))
      .put("parentHash", hex(k.parentHash)).put("sha3Uncles", hex(k.uncleHash))
      .put("miner", hex(k.coinbase)).put("stateRoot", hex(k.root))
      .put("transactionsRoot", hex(k.txHash)).put("receiptsRoot", hex(k.receiptHash))
      .put("difficulty", hexNum(k.difficulty)).put("gasLimit", hexNum(k.gasLimit))
      .put("gasUsed", hexNum(k.gasUsed)).put("timestamp", hexNum(k.time))
      .put("extraData", hex(k.extraData)).put("mixHash", hex(k.mixDigest))
      .put("nonce", hex(k.nonce))
    val txs = o.putArray("transactions")
    k.transactions.foreach { t =>
      if (!full) txs.add(hex(t.hash))
      else {
        val x = txs.addObject()
        x.put("hash", hex(t.hash)).put("from", hex(t.from)).put("nonce", hexNum(t.nonce))
          .put("gasPrice", hexNum(t.gasPrice)).put("gas", hexNum(t.gasLimit))
          .put("value", hexUint(BigInt(t.amount))).put("input", hex(t.payload))
        t.to.fold(x.putNull("to"))(a => x.put("to", hex(a)))
      }
    }
    o.putArray("uncles")
    o
  }

  private def receiptJson(r: Receipt): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("status", hexNum(r.status.toLong))
      .put("cumulativeGasUsed", hexNum(r.cumulativeGasUsed))
      .put("gasUsed", hexNum(r.gasUsed)).put("logsBloom", hex(r.bloom))
      .put("transactionHash", hex(r.txHash)).put("blockNumber", hexNum(r.blockNumber))
    val logs = o.putArray("logs")
    r.logs.foreach { l =>
      val lo = logs.addObject()
      lo.put("address", hex(l.contractAddress)).put("data", hex(l.data))
      val ts = lo.putArray("topics")
      l.topics.foreach(t => ts.add(hex(t)))
    }
    o
  }

  private def transferLogsJson(b: Bundle): ArrayNode = {
    val a = mapper.createArrayNode()
    b.transferLogs.foreach { l =>
      a.addObject().put("txHash", hex(l.txHash)).put("from", hex(l.from)).put("to", hex(l.to))
        .put("value", hexUint(BigInt(l.value))).put("blockNumber", hexNum(l.blockNumber))
    }
    a
  }

  // ---- WebSocket newHeads -------------------------------------------------

  /** Push the current canonical head to every subscriber. */
  def announce(): Unit = gen.head.foreach(h => conns.foreach(o => sendHead(o, h)))

  private def sendHead(out: BufferedOutputStream, b: Bundle): Unit =
    send(out, 0x1, (s"""{"jsonrpc":"2.0","method":"eth_subscription","params":""" +
      s"""{"subscription":"0xb1","result":{"number":"${hexNum(b.block.number)}",""" +
      s""""hash":"${hex(b.block.hash)}","parentHash":"${hex(b.block.parentHash)}"}}}""")
      .getBytes(UTF_8))

  private def send(out: BufferedOutputStream, opcode: Int, payload: Array[Byte]): Unit =
    try out.synchronized {
      out.write(0x80 | opcode)
      val len = payload.length
      if (len < 126) out.write(len)
      else if (len < 65536) { out.write(126); out.write(len >> 8); out.write(len & 0xff) }
      else { out.write(127); (7 to 0 by -1).foreach(i => out.write(((len.toLong >> (8 * i)) & 0xff).toInt)) }
      out.write(payload); out.flush()
    } catch { case _: Exception => () }

  private def readFully(in: InputStream, dst: Array[Byte]): Unit = {
    var off = 0
    while (off < dst.length) {
      val n = in.read(dst, off, dst.length - off)
      if (n == -1) throw new java.io.EOFException
      off += n
    }
  }

  private def serveWs(s: Socket): Unit = {
    var out: BufferedOutputStream = null
    try {
      val in = new BufferedInputStream(s.getInputStream)
      out = new BufferedOutputStream(s.getOutputStream)
      def line(): String = {
        val sb = new StringBuilder
        var c = in.read()
        while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
        sb.toString
      }
      var key = ""
      var l = line()
      while (l.nonEmpty) {
        val i = l.indexOf(':')
        if (i > 0 && l.substring(0, i).trim.equalsIgnoreCase("Sec-WebSocket-Key")) key = l.substring(i + 1).trim
        l = line()
      }
      val accept = java.util.Base64.getEncoder.encodeToString(
        java.security.MessageDigest.getInstance("SHA-1")
          .digest((key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(UTF_8)))
      out.write(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
        s"Connection: Upgrade\r\nSec-WebSocket-Accept: $accept\r\n\r\n").getBytes(UTF_8))
      out.flush()
      while (!s.isClosed) {
        val b0 = in.read(); if (b0 == -1) return
        val b1 = in.read(); if (b1 == -1) return
        var len = (b1 & 0x7f).toLong
        if (len == 126) len = ((in.read() << 8) | in.read()).toLong
        else if (len == 127) { len = 0; (0 until 8).foreach(_ => len = (len << 8) | in.read()) }
        val mask = if ((b1 & 0x80) != 0) { val m = new Array[Byte](4); readFully(in, m); m } else null
        val p = new Array[Byte](len.toInt); readFully(in, p)
        if (mask != null) p.indices.foreach(i => p(i) = (p(i) ^ mask(i % 4)).toByte)
        b0 & 0x0f match {
          case 0x1 =>
            val msg = new String(p, UTF_8)
            if (msg.contains("eth_subscribe")) {
              val id = mapper.readTree(msg).path("id")
              send(out, 0x1, s"""{"jsonrpc":"2.0","id":$id,"result":"0xb1"}""".getBytes(UTF_8))
              val o = out
              synchronized { conns = o :: conns }
              gen.head.foreach(h => sendHead(o, h))
            }
          case 0x9 => send(out, 0xa, p)
          case 0x8 => return
          case _ => ()
        }
      }
    } catch { case _: Exception => () }
    finally {
      val o = out
      synchronized { conns = conns.filterNot(_ eq o) }
      try s.close() catch { case _: Exception => () }
    }
  }
}
