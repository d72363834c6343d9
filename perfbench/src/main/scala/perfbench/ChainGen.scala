package perfbench

import scala.collection.concurrent.TrieMap
import graft.chain.Schemas._

/** Seeded Ethereum-like world for the ingest workloads: subscribed
  * addresses in a few groups, two ERC20 tokens, and a canonical chain that
  * grows one block at a time and can be reorganised at its tip.
  *
  * Everything the stub node serves and every answer the benchmark checks
  * comes from here, so the same seed always gives the same chain, the same
  * reorgs and the same balances.
  */
final class ChainGen(seed: Long, val txsPerBlock: Int, val nSubs: Int, val nGroups: Int) {
  private val rnd = new scala.util.Random(seed)

  private def bytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }

  val genesisParent: Array[Byte] = bytes(32)
  val miner: Array[Byte] = bytes(20)
  val tokens: Seq[Array[Byte]] = Seq(bytes(20), bytes(20))
  val tokenNames: Seq[String] = Seq("Bench Alpha", "Bench Beta")

  /** (id, group, address); every subscription is active from block 1. */
  val subs: IndexedSeq[(Long, Long, Array[Byte])] =
    (0 until nSubs).map(i => ((i + 1).toLong, (i % nGroups + 1).toLong, bytes(20)))
  private val outsiders: IndexedSeq[Array[Byte]] = (0 until 64).map(_ => bytes(20))

  /** Canonical chain, index = number - 1. Published as an immutable vector
    * so the stub's server threads read a consistent snapshot.
    */
  @volatile private var canon: Vector[Bundle] = Vector.empty
  /** Every block ever produced, orphans included (fetch-back by hash). */
  val byHash: TrieMap[Seq[Byte], Bundle] = TrieMap.empty
  val receiptByTx: TrieMap[Seq[Byte], Receipt] = TrieMap.empty
  var reorgs: Int = 0

  def chain: Vector[Bundle] = canon
  def head: Option[Bundle] = canon.lastOption
  def height: Long = canon.length.toLong
  def at(n: Long): Bundle = canon((n - 1).toInt)

  /** A random subscribed address when `subscribed`, else an outsider. */
  private def addr(subscribed: Boolean): Array[Byte] =
    if (subscribed) subs(rnd.nextInt(subs.size))._3
    else outsiders(rnd.nextInt(outsiders.size))

  private def uint256(v: BigInt): Array[Byte] = {
    val raw = v.toByteArray.dropWhile(_ == 0)
    val out = new Array[Byte](32)
    System.arraycopy(raw, 0, out, 32 - raw.length, raw.length)
    out
  }

  private def topic(addr: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](32)
    System.arraycopy(addr, 0, out, 12, 20)
    out
  }

  private def mkBlock(number: Long, parent: Array[Byte], nTx: Int): Bundle = {
    // the block's shape is fixed, only its values are seeded: 7 in 10
    // senders and 7 in 10 receivers are subscribed
    val txs = (0 until nTx).map { j =>
      Tx(bytes(32), addr(j % 10 < 7), Some(addr((j + 5) % 10 < 7)), rnd.nextInt(1 << 20).toLong,
        1000000000L + rnd.nextInt(1000000000), 21000L + rnd.nextInt(40000),
        BigInt(60, rnd).toString, Array.emptyByteArray)
    }
    // two ERC20 Transfer logs per block, one per token, on the first txs
    var cumulative = 0L
    val receipts = txs.zipWithIndex.map { case (t, i) =>
      cumulative += t.gasLimit
      val logs = tokens.lift(i).toSeq.map { token =>
        LogEntry(token, Seq(Sentinels.TransferSig, topic(addr(true)), topic(addr(false))),
          uint256(BigInt(50, rnd)))
      }
      Receipt(None, 1, cumulative, t.gasLimit, new Array[Byte](256), t.hash, None, number, logs)
    }
    val block = Block(number, bytes(32), parent, bytes(32), miner, bytes(32), bytes(32),
      bytes(32), 1000L + rnd.nextInt(100), 30000000L, cumulative, 1600000000L + number * 12,
      Array.emptyByteArray, bytes(32), bytes(8), txs, Nil)
    val transferLogs = txs.map(t => TransferLog(t.hash, t.from, t.to.get, t.amount, number))
    val b = Bundle(block, receipts, transferLogs)
    byHash(block.hash.toSeq) = b
    receipts.foreach(r => receiptByTx(r.txHash.toSeq) = r)
    b
  }

  /** Append `n` blocks on the canonical tip. */
  def extend(n: Int, nTx: Int = txsPerBlock): Unit = synchronized {
    var c = canon
    (0 until n).foreach { _ =>
      val parent = c.lastOption.map(_.block.hash).getOrElse(genesisParent)
      c = c :+ mkBlock(c.length + 1L, parent, nTx)
    }
    canon = c
  }

  /** Replace the top `depth` blocks with a heavier branch one block longer. */
  def reorg(depth: Int): Unit = synchronized {
    require(canon.length > depth, "reorg deeper than the chain")
    var c = canon.dropRight(depth)
    (0 to depth).foreach { _ =>
      c = c :+ mkBlock(c.length + 1L, c.last.block.hash, txsPerBlock)
    }
    canon = c
    reorgs += 1
  }

  /** The stub's balance function: balance of `addr` in `token` (the ETH
    * sentinel for ether) at the block whose hash is `blockHash`.
    */
  def balance(token: Array[Byte], addr: Array[Byte], blockHash: Array[Byte]): BigInt = {
    val t = if (token.length >= 4) BigInt(1, token.take(4)) else BigInt(token.length)
    ((BigInt(1, addr) + t) % BigInt(10).pow(20)) +
      (blockHash(0) & 0xff).toLong * 256 + (blockHash(1) & 0xff).toLong
  }

  /** Row counts the chain tables must hold for the canonical chain. */
  def expectedCounts: Map[String, Long] = {
    val c = canon
    Map(
      "block_headers" -> c.length.toLong,
      "transactions" -> c.map(_.block.transactions.size.toLong).sum,
      "transaction_receipts" -> c.map(_.receipts.size.toLong).sum,
      "receipt_logs" -> c.map(_.receipts.map(_.logs.size.toLong).sum).sum)
  }

  /** Seeded pick helpers for the reader (its own stream, not the chain's). */
  def groupIds(g: Long): Seq[Long] = subs.filter(_._2 == g).map(_._1)
}

object ChainGen {
  val EthToken: Array[Byte] = Sentinels.EthToken
  def hex(b: Array[Byte]): String = {
    val sb = new StringBuilder("0x")
    b.foreach(x => sb.append(Character.forDigit((x >> 4) & 0xf, 16)).append(Character.forDigit(x & 0xf, 16)))
    sb.toString
  }
  def hexNum(n: Long): String = "0x" + java.lang.Long.toHexString(n)
  def unhex(s: String): Array[Byte] = {
    val h = s.stripPrefix("0x")
    val p = if (h.length % 2 == 1) "0" + h else h
    val out = new Array[Byte](p.length / 2)
    var i = 0
    while (i < out.length) { out(i) = Integer.parseInt(p.substring(2 * i, 2 * i + 2), 16).toByte; i += 1 }
    out
  }
}
