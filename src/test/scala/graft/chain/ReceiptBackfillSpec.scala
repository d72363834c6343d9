package graft.chain

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.chain.Fixtures._
import graft.chain.Schemas._
import graft.streaming.ChainIngest

/** Fixture fetcher: serves the same receipts/transfer logs the chain was
  * originally ingested with, keyed by block hash — the stand-in for the
  * debug RPC client (client/client.go:106-110,150-154).
  */
final case class FixtureBlockDataClient(
    byHash: Map[Seq[Byte], (Seq[Receipt], Seq[TransferLog])]) extends BlockDataClient {
  override def receipts(blockHash: Array[Byte]): Seq[Receipt] =
    byHash.get(blockHash.toSeq).map(_._1).getOrElse(Nil)
  override def transferLogs(blockHash: Array[Byte]): Seq[TransferLog] =
    byHash.get(blockHash.toSeq).map(_._2).getOrElse(Nil)
}

class ReceiptBackfillSpec extends SparkSpec {
  import spark.implicits._

  test("backfillRange rebuilds receipt-derived tables identically, preserving reward rows (S3/S4)") {
    val store = TableStore(spark, Files.createTempDirectory("graft-bf").toString)
    val registered = Seq((tokenX, 1L)).toDF("address", "block_number")

    // chain 1..3: block 2 carries a tx with an ETH transfer + an ERC20 log
    val t2 = tx(1, alice, carol, 500)
    var parent = hash32(0)
    val bundles = (1L to 3L).map { n =>
      val txs = if (n == 2L) Seq(t2) else Nil
      val b   = block(n, parent, txs = txs)
      parent = b.hash
      val recs = if (n == 2L) Seq(receipt(t2, n, logs = Seq(transferLog(alice, bob, 77)))) else Nil
      val tls  = if (n == 2L) Seq(TransferLog(t2.hash, alice, carol, "500", 2L)) else Nil
      Bundle(b, recs, tls)
    }
    ChainIngest.ingestBatch(spark, store, bundles.toDS().toDF(), registered)

    def snapshot(table: String): Set[String] = {
      val df = store.readOr(table, null)
      val cols = df.schema.fields.map { f =>
        if (f.dataType == org.apache.spark.sql.types.BinaryType) hex(col(f.name)).as(f.name)
        else col(f.name)
      }
      df.select(cols.toIndexedSeq: _*).collect().map(_.toString).toSet
    }
    val before = Seq(ChainIngest.ReceiptsTable, ChainIngest.LogsTable,
      ChainIngest.TransfersTable).map(t => t -> snapshot(t)).toMap
    // sanity: transfers include reward rows (tx_hash null) and the erc20 row
    assert(store.readOr(ChainIngest.TransfersTable, null)
      .filter(col("tx_hash").isNull).count() == 3L) // one miner reward per block
    assert(before(ChainIngest.TransfersTable).size > 3)

    // client serving exactly what the chain was ingested with
    val client = FixtureBlockDataClient(bundles.map { bd =>
      bd.block.hash.toSeq -> ((bd.receipts, bd.transferLogs))
    }.toMap)

    ReceiptBackfill.backfillRange(store, 1L, 3L, client, registered)
    Seq(ChainIngest.ReceiptsTable, ChainIngest.LogsTable, ChainIngest.TransfersTable)
      .foreach { t => assert(snapshot(t) == before(t), s"$t diverged after backfill") }

    // replaying the backfill is idempotent
    ReceiptBackfill.backfillRange(store, 1L, 3L, client, registered)
    assert(snapshot(ChainIngest.TransfersTable) == before(ChainIngest.TransfersTable))
  }
}
