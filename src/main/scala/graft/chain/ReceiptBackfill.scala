package graft.chain

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.streaming.ChainIngest
import Schemas.{Receipt, TransferLog}

/** Pluggable per-block chain-data fetcher — the seam over the reference's
  * modified-geth debug RPCs: `GetBlockReceipts`
  * (client/client.go:106-110) and `GetTransferLogs`
  * (client/client.go:150-154). Implementations ship to executors
  * (Serializable) and are invoked once per block hash; a real client
  * holds one RPC connection per partition.
  */
trait BlockDataClient extends Serializable {
  def receipts(blockHash: Array[Byte]): Seq[Receipt]
  def transferLogs(blockHash: Array[Byte]): Seq[TransferLog]
}

/** S3/S4 as a distributed HISTORICAL backfill: the live path receives
  * receipts and transfer logs inside stream bundles (BundleStream), but
  * re-indexing an already-synced chain — the reference's `init` sync from
  * block 0 (service/indexer/indexer.go:96-120) — fans the stored block
  * hashes out across executors and fetches per partition. Nothing is
  * collected to the driver; the fetched rows feed the same Transforms →
  * TableStore path as live ingest, so backfilled and streamed blocks are
  * byte-identical at rest.
  */
object ReceiptBackfill {

  /** Fetch receipts + transfer logs for every block in `blocks`
    * ((number, hash) rows, e.g. a `readRange` of block_headers). Returns
    * typed Datasets shaped exactly like the ingest bundles' payloads.
    */
  def fetch(blocks: DataFrame, client: BlockDataClient):
      (Dataset[Receipt], Dataset[TransferLog]) = {
    val spark = blocks.sparkSession
    import spark.implicits._
    val hashes = blocks.select(col("hash")).as[Array[Byte]]
    val receipts = hashes.mapPartitions(_.flatMap(client.receipts))
    val logs     = hashes.mapPartitions(_.flatMap(client.transferLogs))
    (receipts, logs)
  }

  /** Backfill [from, to] into the store through the SAME transforms as
    * live ingest (delete-then-append per range — replay-idempotent like
    * ChainIngest.appendChunk). Synthetic reward transfer rows were derived
    * from HEADERS at ingest and cannot be rebuilt from receipts — the
    * existing ones are materialized (localCheckpoint — they must survive
    * the directory swap underneath their scan) and carried through the
    * transfers rewrite.
    */
  def backfillRange(store: TableStore, from: Long, to: Long,
                    client: BlockDataClient, tokens: DataFrame): Unit = {
    import Schemas.Sentinels
    val blocks = store.readRange(ChainIngest.HeadersTable, "number", from, to, null)
      .select("number", "hash")
    val (receipts, logs) = fetch(blocks, client)
    val receiptsDf = receipts.toDF()
    val logRows    = Transforms.receiptLogs(receiptsDf)
    val eth        = Transforms.ethTransfers(logs.toDF())
    val erc20      = Transforms.erc20Transfers(logRows, tokens)
    val rewards    = store.readRange(ChainIngest.TransfersTable, "block_number", from, to, null)
      .filter(col("tx_hash").isNull).localCheckpoint(true)
    val transfers = eth.withColumn("token", lit(Sentinels.EthToken))
      .unionByName(erc20).unionByName(rewards)
    Seq(
      ChainIngest.ReceiptsTable  -> Transforms.transactionReceipts(receiptsDf),
      ChainIngest.LogsTable      -> logRows,
      ChainIngest.TransfersTable -> transfers
    ).foreach { case (table, df) =>
      store.deleteRange(table, "block_number", from, to)
      store.appendRange(table, df, "block_number", from, to)
    }
  }
}
