package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.SparkSpec
import graft.chain._
import graft.chain.Fixtures._

/** JdbcMirror composed into the full lifecycle (the reference writes MySQL
  * inside the same per-block transaction, store/store.go:115-212): every
  * chain and balance table mirrors through catch-up, a reorg retraction,
  * and a checkpoint-style replay, against embedded Derby.
  */
class MirroredIngestSpec extends SparkSpec {
  import spark.implicits._

  private val tables = Seq(
    ChainIngest.HeadersTable, ChainIngest.TxTable, ChainIngest.ReceiptsTable,
    ChainIngest.LogsTable, ChainIngest.TransfersTable, ChainIngest.TdTable,
    BalanceIngest.AccountsTable, BalanceIngest.TotalsTable,
    BalanceIngest.MatchedTable)

  private def normalize(df: DataFrame): Set[String] =
    df.collect().map { r =>
      r.toSeq.map {
        case b: Array[Byte] => BigInt(1, b).toString
        case d: java.math.BigDecimal => d.toBigInteger.toString
        case v => String.valueOf(v)
      }.mkString("|")
    }.toSet

  private def assertMirrored(store: TableStore, db: JdbcMirror): Unit =
    tables.foreach { t =>
      if (store.exists(t)) {
        val s = store.readOr(t, null)
        assert(db.exists(t), s"table $t missing from the mirror")
        val m = db.read(t).select(s.columns.map(col): _*)
        assert(normalize(s) == normalize(m), s"table $t diverged from its mirror")
      }
    }

  test("chain and balance tables mirror-match through catch-up, reorg, and replay") {
    val store = TableStore(spark, Files.createTempDirectory("graft-mirror").toString)
    val db = JdbcMirror(spark, s"jdbc:derby:memory:graftm${System.nanoTime()};create=true")
    val client = BlockAwareBalanceClient(spark.sparkContext.longAccumulator("mirror"))
    store.replace(BalanceIngest.SubsTable,
      Seq((1L, 1L, 1L, alice)).toDF("id", "block_number", "group", "address"))

    // catch-up 1..4, a tx per block so balance rows land everywhere
    val txs = (1L to 4L).map(n => n -> Seq(tx(n.toInt, alice, carol, 500, gasPrice = 100L))).toMap
    val main = bundleChain(1, 4, hash32(0), 1000L, -1, txs, withTransferLogs = true)
    FullIngest.processBatch(spark, store, main.toDS().toDF(), client, mirror = Some(db))
    assertMirrored(store, db)

    // heavier higher fork from 2 retracts 3..4 and lands 3'..6' — the
    // mirror must retract inside the same bracket and re-fill the branch
    val fork = bundleChain(3, 6, main(1).block.hash, 5000L, 77,
      Map(4L -> Seq(tx(9, alice, carol, 700, gasPrice = 200L))), withTransferLogs = true)
    FullIngest.processBatch(spark, store, fork.toDS().toDF(), client, mirror = Some(db))
    assertMirrored(store, db)
    // the fork's rows really replaced the old branch in the mirror
    val mirroredHashes = db.read(ChainIngest.HeadersTable).collect()
      .map(r => r.getAs[Long]("number") -> BigInt(1, r.getAs[Array[Byte]]("hash"))).toMap
    assert(mirroredHashes(3L) == BigInt(1, fork.head.block.hash))
    assert(mirroredHashes.keySet == (1L to 6L).toSet)

    // a replayed batch (foreachBatch crash semantics) must not duplicate
    FullIngest.processBatch(spark, store, fork.toDS().toDF(), client, mirror = Some(db))
    assertMirrored(store, db)
  }
}
