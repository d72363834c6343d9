package graft.sources

import java.io.IOException
import com.fasterxml.jackson.databind.JsonNode

/** The one decoder of a JSON-RPC batch reply, shared by the feed
  * ([[JsonRpcFeed]]) and the account client ([[JsonRpcAccountClient]]).
  * Both number a batch's requests 0 … n-1 and accept the replies in any
  * order (the spec lets a server reorder them), so the id is the only link
  * between a reply and its request. The decoder is therefore strict: the
  * reply must be an array of exactly n elements whose ids are integral
  * numbers in [0, n), each seen once. A string id, a missing or repeated id
  * or a missing or extra element fails the whole batch instead of handing a
  * result to the wrong request.
  *
  * A malformed reply throws an [[IOException]]: the node is not speaking
  * JSON-RPC, which each caller treats like a transport failure and fails
  * over. Per-element `error` members are left to the caller, whose rule
  * differs (the feed throws, the account client reads the method's
  * default).
  */
private[sources] object JsonRpcBatch {

  /** The reply's elements in request order (element i answers request i). */
  def inOrder(reply: JsonNode, n: Int): IndexedSeq[JsonNode] = {
    def bad(why: String) = throw new IOException(s"malformed JSON-RPC batch reply: $why")
    if (reply == null || !reply.isArray) bad(s"expected an array, got ${Option(reply).map(_.getNodeType)}")
    if (reply.size != n) bad(s"expected $n elements, got ${reply.size}")
    val out = new Array[JsonNode](n)
    reply.elements().forEachRemaining { e =>
      val id = e.get("id")
      if (id == null || !id.isIntegralNumber || !id.canConvertToInt) bad(s"element id $id is not an integer")
      val i = id.intValue
      if (i < 0 || i >= n) bad(s"element id $i outside [0, $n)")
      if (out(i) != null) bad(s"element id $i repeated")
      out(i) = e
    }
    out.toIndexedSeq
  }
}
