package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.scalatest.funsuite.AnyFunSuite
import graft.chain.Fixtures._
import graft.chain.Schemas.Sentinels

/** The strict batch-reply decoder both JSON-RPC clients share: a hostile
  * node that answers a batch with a non-array, a missing, repeated or
  * string id, or an extra element must fail the call — the feed's height
  * stays unlanded, the account client fails over and then throws — and
  * never hand one request's result to another.
  */
class JsonRpcBatchSpec extends AnyFunSuite {

  private val nf = JsonNodeFactory.instance

  private def elem(a: ArrayNode, i: Int): ObjectNode = a.get(i).asInstanceOf[ObjectNode]

  private val hostile: Seq[(String, ArrayNode => JsonNode)] = Seq(
    "a non-array"       -> (_ => nf.objectNode().put("jsonrpc", "2.0").put("id", 0)),
    "a missing id"      -> { a => elem(a, 0).remove("id"); a },
    "a duplicate id"    -> { a => elem(a, 1).set[JsonNode]("id", elem(a, 0).get("id")); a },
    "a string id"       -> { a => elem(a, 0).put("id", elem(a, 0).get("id").asText); a },
    "an extra element"  -> { a => a.add(elem(a, 0).deepCopy()); a })

  test("the decoder returns replies in request order and rejects every malformed shape") {
    val reply = nf.arrayNode()
    Seq(2, 0, 1).foreach(i => reply.add(nf.objectNode().put("id", i).put("result", s"r$i")))
    assert(JsonRpcBatch.inOrder(reply, 3).map(_.get("result").asText) == Seq("r0", "r1", "r2"))
    Seq(
      nf.objectNode(),                                              // not an array
      nf.arrayNode().add(nf.objectNode().put("id", 0)),             // too few
      nf.arrayNode().add(nf.objectNode().put("id", 0)).add(nf.objectNode().put("id", 3))
        .add(nf.objectNode().put("id", 1)),                         // out of range
      nf.arrayNode().add(nf.objectNode().put("id", 0)).add(nf.objectNode().put("id", 1.0))
        .add(nf.objectNode().put("id", 2))                          // fractional id
    ).foreach(bad => intercept[java.io.IOException](JsonRpcBatch.inOrder(bad, 3)))
  }

  hostile.foreach { case (what, mangle) =>
    test(s"the feed fails the height on $what and lands it once the node answers well") {
      val main = bundleChain(1, 1, hash32(0), withTransferLogs = true,
        txsAt = Map(1L -> Seq(tx(1, alice, carol, 5), tx(2, bob, carol, 6))))
      val stub = new RpcStub
      stub.setCanonical(main)
      val port = stub.start()
      try {
        val feed = new JsonRpcFeed(s"http://127.0.0.1:$port/")
        stub.mangleBatch = Some(mangle)
        intercept[java.io.IOException](feed.pollOnce())
        assert(feed.latestSeq == 0L, s"nothing may land from $what")
        stub.mangleBatch = None
        assert(feed.pollOnce() == 1)
        assert(feed.range(0, 1).head.receipts.map(_.txHash.toSeq) ==
          main.head.receipts.map(_.txHash.toSeq))
      } finally stub.stop()
    }

    test(s"the account client fails over on $what, then throws") {
      val (a, b) = (new RpcStub, new RpcStub)
      a.setCanonical(bundleChain(1, 1, hash32(0)))
      b.setCanonical(bundleChain(1, 1, hash32(0)))
      a.mangleBatch = Some(mangle)
      b.mangleBatch = Some(mangle)
      val (pa, pb) = (a.start(), b.start())
      try {
        val client = new JsonRpcAccountClient(
          Seq(s"http://127.0.0.1:$pa/", s"http://127.0.0.1:$pb/"))
        val err = intercept[RuntimeException](client.balances(hash32(1),
          Seq((Sentinels.EthToken, alice), (Sentinels.EthToken, bob), (tokenX, carol))))
        assert(err.getMessage.contains("all 2 endpoints failed"))
        assert(a.postCount == 1 && b.postCount == 1, "each endpoint is tried once")
      } finally { a.stop(); b.stop() }
    }
  }
}
