package graft.streaming

import java.nio.file.Files
import org.apache.spark.util.LongAccumulator
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.chain._
import graft.chain.Fixtures._
import graft.chain.Schemas._

/** Per-(token, address) fixture balances so ETH and ERC20 rows differ. */
final case class TokenAwareBalanceClient(calls: LongAccumulator) extends BalanceClient {
  override def balances(blockHash: Array[Byte],
                        pairs: Seq[(Array[Byte], Array[Byte])]): Seq[String] = {
    calls.add(1)
    pairs.map { case (t, a) =>
      ((BigInt(1, t) + BigInt(1, a)) % BigInt(10).pow(18)).toString
    }
  }
}

/** The ERC20 path end-to-end: a registered token's Transfer log is decoded
  * during ingest into a token-tagged transfer row, and the balance pipeline
  * produces per-(group, token) rows next to the ETH ones — the reference's
  * dynamic `erc20_balance_<addr>` tables as partition values.
  */
class Erc20FlowSpec extends SparkSpec {
  import spark.implicits._

  test("registered-token transfers flow from log decode to per-token totals") {
    val store  = TableStore(spark, Files.createTempDirectory("graft-erc20").toString)
    val tokens = Seq((tokenX, 1L)).toDF("address", "block_number")

    // block 1: alice sends 1000 units of tokenX to bob (an ERC20 Transfer
    // log on the tx receipt), plus the tx itself
    val t1 = tx(1, alice, bob, 0)
    val b1 = block(1L, hash32(0), txs = Seq(t1))
    val r1 = receipt(t1, 1L, logs = Seq(transferLog(alice, bob, BigInt(1000))))
    ChainIngest.ingestBatch(spark, store,
      Seq(Bundle(b1, Seq(r1), Nil)).toDS().toDF(), tokens)

    // ingest decoded the log into a token-tagged transfer row
    val transfers = store.readOr(ChainIngest.TransfersTable, null)
    val tokRows = transfers.filter(col("token") === lit(tokenX)).collect()
    assert(tokRows.length == 1)
    assert(tokRows(0).getAs[Array[Byte]]("from").toSeq == alice.toSeq)
    assert(tokRows(0).getAs[Array[Byte]]("to").toSeq == bob.toSeq)
    assert(tokRows(0).getAs[java.math.BigDecimal]("value").longValue() == 1000L)

    // subscriptions: alice (group 1) and bob (group 2), both active
    store.replace(BalanceIngest.SubsTable,
      Seq((1L, 1L, 1L, alice), (2L, 1L, 2L, bob)).toDF("id", "block_number", "group", "address"))

    val calls = spark.sparkContext.longAccumulator("erc20-calls")
    BalanceIngest.processRange(spark, store, 1L, 1L, TokenAwareBalanceClient(calls))

    // accounts carry BOTH the ETH and the tokenX snapshot per touched addr
    val accounts = store.readOr(BalanceIngest.AccountsTable, null).collect()
      .map(r => (r.getAs[Array[Byte]]("token").toSeq, r.getAs[Array[Byte]]("address").toSeq) ->
        BigInt(r.getAs[java.math.BigDecimal]("balance").toBigInteger)).toMap
    def expect(t: Array[Byte], a: Array[Byte]) = (BigInt(1, t) + BigInt(1, a)) % BigInt(10).pow(18)
    assert(accounts((tokenX.toSeq, alice.toSeq)) == expect(tokenX, alice))
    assert(accounts((Sentinels.EthToken.toSeq, alice.toSeq)) == expect(Sentinels.EthToken, alice))
    assert(accounts((tokenX.toSeq, bob.toSeq)) == expect(tokenX, bob))

    // totals: one row per (group, token) — the "per-token table" as a
    // partition value, tokenX next to ETH
    val totals = store.readOr(BalanceIngest.TotalsTable, null).collect()
      .map(r => (r.getAs[Long]("group"), r.getAs[Array[Byte]]("token").toSeq) ->
        BigInt(r.getAs[java.math.BigDecimal]("balance").toBigInteger)).toMap
    assert(totals((1L, tokenX.toSeq)) == expect(tokenX, alice))
    assert(totals((2L, tokenX.toSeq)) == expect(tokenX, bob))
    assert(totals.contains((1L, Sentinels.EthToken.toSeq)))

    // ChainStore facade routes the per-token "table" via partition value
    val cs = ChainStore(
      headers = store.readOr(ChainIngest.HeadersTable, null),
      transactions = store.readOr(ChainIngest.TxTable, null),
      receipts = store.readOr(ChainIngest.ReceiptsTable, null),
      receiptLogs = store.readOr(ChainIngest.LogsTable, null),
      totalDifficulty = store.readOr(ChainIngest.TdTable, null),
      transfers = transfers,
      accounts = store.readOr(BalanceIngest.AccountsTable, null),
      subscriptions = store.readOr(BalanceIngest.SubsTable, null),
      reorgs = spark.emptyDataFrame,
      tokens = tokens)
    val aliceTok = cs.findAccount(tokenX, alice).head()
    assert(BigInt(aliceTok.getAs[java.math.BigDecimal]("balance").toBigInteger) ==
      expect(tokenX, alice))
    assert(cs.findAllTransfers(tokenX, alice).count() == 1L)
  }
}
