package graft.sources

import java.net.{HttpURLConnection, URI}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.chain.{BalanceClient, TokenMetadataClient}
import graft.chain.Schemas.Sentinels

/** The LIVE account-state client: [[graft.chain.BalanceClient]] (S6–S8)
  * and [[graft.chain.TokenMetadataClient]] (S9) over batched JSON-RPC —
  * the deployable counterpart of the fixture clients the specs inject.
  *
  * Mirrors the reference's RPC surface (client/client.go:112-225):
  *   - native ETH: `eth_getBalance(addr, {"blockHash"})` — EIP-1898
  *     by-hash anchoring, because the resolver's contract is "balance at
  *     THIS block hash", never "at latest" (a reorg between the header
  *     fetch and the balance call must surface as an error, not a wrong
  *     branch's balance);
  *   - ERC20: `eth_call(balanceOf(address))` at the same hash anchor;
  *   - metadata: `eth_call` of `totalSupply()` (required — a failure
  *     surfaces as None, the reference's invalid-token signal),
  *     `decimals()`/`name()` (optional, warn-and-default 0 / "").
  *
  * One batched HTTP POST per client call (the JSON-RPC array form — the
  * reference's `BatchBalanceAt`/`BatchCallContract`), so a ≤1000-pair
  * resolver chunk is ONE round trip. Endpoints fail over in order per
  * call; instances are Serializable and are constructed fresh per executor
  * task (no shared connection state — HttpURLConnection pools per JVM).
  */
final class JsonRpcAccountClient(endpoints: Seq[String], timeoutMs: Int = 30000)
    extends BalanceClient with TokenMetadataClient {

  def this(endpoint: String) = this(Seq(endpoint))

  // ABI selectors: keccak4("balanceOf(address)"), "totalSupply()",
  // "decimals()", "name()" — fixed public constants
  private val BalanceOf   = "70a08231"
  private val TotalSupply = "18160ddd"
  private val Decimals    = "313ce567"
  private val Name        = "06fdde03"

  override def balances(blockHash: Array[Byte],
                        pairs: Seq[(Array[Byte], Array[Byte])]): Seq[String] = {
    val anchor = s"""{"blockHash":"${hex(blockHash)}"}"""
    val reqs = pairs.zipWithIndex.map { case ((token, addr), i) =>
      if (java.util.Arrays.equals(token, Sentinels.EthToken))
        rpcReq(i, "eth_getBalance", s""""${hex(addr)}",$anchor""")
      else
        rpcReq(i, "eth_call",
          s"""{"to":"${hex(token)}","data":"0x$BalanceOf${pad32(addr)}"},$anchor""")
    }
    batch(reqs).map(r => decodeUint(resultOf(r)))
  }

  override def metadata(addresses: Seq[Array[Byte]])
      : Seq[(Option[String], Int, String)] = {
    // three calls per token, one batch for the chunk; ids encode (token, field)
    val reqs = addresses.zipWithIndex.flatMap { case (a, i) =>
      Seq(TotalSupply, Decimals, Name).zipWithIndex.map { case (sel, f) =>
        rpcReq(i * 3 + f, "eth_call",
          s"""{"to":"${hex(a)}","data":"0x$sel"},"latest"""")
      }
    }
    val res = batch(reqs)
    addresses.indices.map { i =>
      val supply = resultOf(res(i * 3)) match {
        case Some(h) => Some(BigInt(stripHex(h), 16).toString)
        case None    => None // required method failed — invalid token
      }
      val dec = resultOf(res(i * 3 + 1))
        .flatMap(h => scala.util.Try(BigInt(stripHex(h), 16).toInt).toOption)
        .getOrElse(0)
      val name = resultOf(res(i * 3 + 2)).map(decodeAbiString).getOrElse("")
      (supply, dec, name)
    }
  }

  // ---- JSON-RPC batch plumbing --------------------------------------------

  private def rpcReq(id: Int, method: String, params: String): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"$method","params":[$params]}"""

  /** POST the batch array, return responses in request order (ids are the
    * request index; [[JsonRpcBatch.inOrder]] matches them strictly). Any
    * failure, a malformed reply included, fails over to the next endpoint.
    */
  private def batch(reqs: Seq[String]): IndexedSeq[JsonNode] = {
    if (reqs.isEmpty) return IndexedSeq.empty
    val body = reqs.mkString("[", ",", "]").getBytes("UTF-8")
    var last: Throwable = null
    endpoints.foreach { ep =>
      try return JsonRpcBatch.inOrder(post(ep, body), reqs.size)
      catch { case e: Exception => last = e }
    }
    throw new RuntimeException(s"all ${endpoints.size} endpoints failed", last)
  }

  private def post(endpoint: String, body: Array[Byte]): JsonNode = {
    val conn = URI.create(endpoint).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    conn.setRequestMethod("POST")
    conn.setRequestProperty("Content-Type", "application/json")
    conn.setDoOutput(true)
    try {
      conn.getOutputStream.write(body)
      new ObjectMapper().readTree(conn.getInputStream)
    } finally conn.disconnect()
  }

  /** `result` field if present and non-null and no `error`; None otherwise
    * (per-entry errors are the optional-method default path, not failover).
    */
  private def resultOf(n: JsonNode): Option[String] = {
    if (n.hasNonNull("error")) None
    else Option(n.get("result")).filterNot(_.isNull).map(_.asText)
  }

  // ---- hex / ABI ----------------------------------------------------------

  private def hex(b: Array[Byte]): String = "0x" + b.map("%02x".format(_)).mkString
  private def stripHex(s: String): String = {
    val h = s.stripPrefix("0x")
    if (h.isEmpty) "0" else h
  }
  private def pad32(addr: Array[Byte]): String =
    "0" * (64 - addr.length * 2) + addr.map("%02x".format(_)).mkString

  /** A uint256 result as a decimal string; an empty/absent result reads as
    * zero (geth returns "0x" for calls into contracts without the method).
    */
  private def decodeUint(r: Option[String]): String =
    r.map(h => BigInt(stripHex(h), 16).toString).getOrElse("0")

  /** ABI-decode a `string` return value; tolerant of the legacy bytes32
    * form some early tokens use (trailing NULs trimmed).
    */
  private[sources] def decodeAbiString(h: String): String = {
    val raw = stripHex(h)
    if (raw.isEmpty) return ""
    def bytes(fromHexChar: Int, n: Int): Array[Byte] =
      raw.slice(fromHexChar, fromHexChar + n * 2).grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
    if (raw.length > 128) {
      // dynamic string: 32B offset, 32B length, data
      val len = BigInt(raw.slice(64, 128), 16).toInt
      new String(bytes(128, len), "UTF-8")
    } else {
      new String(bytes(0, raw.length / 2).takeWhile(_ != 0), "UTF-8")
    }
  }
}
