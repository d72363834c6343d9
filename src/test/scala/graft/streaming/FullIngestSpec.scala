package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.chain._
import graft.chain.Fixtures._
import graft.chain.Schemas._

/** The complete `Listen` analogue in one checkpointed streaming query
  * (service/indexer/indexer.go:101-246 as exercised by
  * indexer_test.go:101-1014): the DSv2 bundle source feeds chain ingest AND
  * the balance pipeline per micro-batch — catch-up under the trigger cap, a
  * pending token seeding mid-stream, a mid-stream reorg that retracts both
  * chain and balance state, and a checkpoint restart — with the results
  * read back through the ChainStore serving facade.
  */
class FullIngestSpec extends SparkSpec {
  import spark.implicits._

  private def mkChain(start: Long, end: Long, parent: Array[Byte],
                      difficulty: Long = 1000L, hashSeedBase: Int = -1,
                      txsAt: Map[Long, Seq[Tx]] = Map.empty): Seq[Bundle] =
    bundleChain(start, end, parent, difficulty, hashSeedBase, txsAt,
      withTransferLogs = true)

  private def hashAt(store: TableStore, n: Long): Array[Byte] =
    store.readRange(ChainIngest.HeadersTable, "number", n, n, null)
      .select("hash").head().getAs[Array[Byte]](0)

  /** The fixture client's balance for `addr` at the block whose hash is `h`. */
  private def bal(addr: Array[Byte], h: Array[Byte]): BigInt =
    (BigInt(1, addr) % BigInt(10).pow(20)) + (h(0) & 0xff).toLong

  private def facade(store: TableStore): ChainStore = ChainStore(
    headers = store.readOr(ChainIngest.HeadersTable, null),
    transactions = store.readOr(ChainIngest.TxTable, null),
    receipts = store.readOr(ChainIngest.ReceiptsTable, null),
    receiptLogs = store.readOr(ChainIngest.LogsTable, null),
    totalDifficulty = store.readOr(ChainIngest.TdTable, null),
    transfers = store.readOr(ChainIngest.TransfersTable, null),
    accounts = store.readOr(BalanceIngest.AccountsTable, null),
    subscriptions = store.readOr(BalanceIngest.SubsTable, null),
    reorgs = store.readOr(ChainIngest.ReorgsTable, null),
    tokens = store.readOr(BalanceIngest.RegistryTable, null))

  test("full lifecycle: DSv2 source → ingest → balances through a mid-stream reorg and restart") {
    val store = TableStore(spark, Files.createTempDirectory("graft-full").toString)
    val subId = "full-e2e"
    val sub   = new QueueHeadSubscription
    HeadSubscriptions.register(subId, sub)

    // world before the stream: alice active since 1 (group 1), bob NEW
    // (pending admission), and tokenX registered pending backfill
    store.replace(BalanceIngest.SubsTable,
      Seq((1L, 1L, 1L, alice), (2L, 0L, 2L, bob))
        .toDF("id", "block_number", "group", "address"))
    store.replace(BalanceIngest.RegistryTable,
      Seq((tokenX, 0L, 18, "TOK")).toDF("address", "block_number", "decimals", "name"))

    // chain 1..8, cap 3 per trigger → catch-up spans ≥3 micro-batches;
    // block 2 carries alice→carol (tx + eth transfer log), fee 100×21000
    val t2 = tx(1, alice, carol, 500, gasPrice = 100L)
    sub.push(mkChain(1, 8, hash32(0), txsAt = Map(2L -> Seq(t2))): _*)

    val bundles = spark.readStream
      .format(classOf[BundleStreamProvider].getName)
      .option(BundleStream.SubscriptionOption, subId)
      .option(BundleStream.MaxBlocksOption, "3")
      .load()
    val checkpoint = Files.createTempDirectory("graft-full-ckpt").toString
    val client = BlockAwareBalanceClient(spark.sparkContext.longAccumulator("full-e2e"))

    val q = FullIngest.start(bundles, store, client, checkpoint, fetchBack = sub.byHash)
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3) // cap honored

      // chain and balance heads agree at 8
      assert(ChainIngest.loadHead(store).exists(_.number == 8L))
      assert(BalanceIngest.processedThrough(store).contains(8L))

      // bob admitted+seeded at 1; alice (tx sender) snapshotted at 2
      val cs0 = facade(store)
      val bobRow = cs0.findAccount(Sentinels.EthToken, bob).head()
      assert(bobRow.getAs[Long]("block_number") == 1L)
      assert(BigInt(bobRow.getAs[java.math.BigDecimal]("balance").toBigInteger) ==
        bal(bob, hashAt(store, 1L)))
      val aliceRow = cs0.findAccount(Sentinels.EthToken, alice).head()
      assert(aliceRow.getAs[Long]("block_number") == 2L)

      // pending tokenX seeded both subs at 1 and flipped to 2 mid-stream
      assert(cs0.findToken(tokenX).head().getAs[Long]("block_number") == 2L)
      assert(cs0.findAccount(tokenX, alice).head().getAs[Long]("block_number") == 1L)
      assert(cs0.findAccount(tokenX, bob).head().getAs[Long]("block_number") == 1L)

      // group-1 fee total at block 2 = gasPrice × gasUsed
      def feeAt(n: Long, g: Long): BigInt = BigInt(
        store.readOr(BalanceIngest.TotalsTable, null)
          .filter(col("block_number") === n && col("group") === g &&
            col("token") === lit(Sentinels.EthToken))
          .head().getAs[java.math.BigDecimal]("tx_fee").toBigInteger)
      assert(feeAt(2L, 1L) == BigInt(100L * 21000L))

      // ---- mid-stream reorg: heavier fork 5'..10' on the live feed --------
      // old td(8) = 8×1000; fork td = 4×1000 + 6×5000 — TD wins, reorg at 5.
      // Block 6' carries alice→carol again at gasPrice 200.
      val t6 = tx(2, alice, carol, 700, gasPrice = 200L)
      sub.push(mkChain(5, 10, hash32(4), difficulty = 5000L, hashSeedBase = 9000,
        txsAt = Map(6L -> Seq(t6))): _*)
      q.processAllAvailable()

      assert(ChainIngest.loadHead(store).exists(_.number == 10L))
      assert(BalanceIngest.processedThrough(store).contains(10L))
      val cs1 = facade(store)
      val reorgs = cs1.reorgs.collect()
      assert(reorgs.length == 1 && reorgs(0).getAs[Long]("from") == 5L)

      // balances recomputed on the WINNING branch: alice's latest snapshot
      // sits at 6 and carries the new branch's hash-salted value
      val alice1 = cs1.findAccount(Sentinels.EthToken, alice).head()
      assert(alice1.getAs[Long]("block_number") == 6L)
      assert(BigInt(alice1.getAs[java.math.BigDecimal]("balance").toBigInteger) ==
        bal(alice, hashAt(store, 6L)))
      assert(feeAt(6L, 1L) == BigInt(200L * 21000L))
      assert(feeAt(2L, 1L) == BigInt(100L * 21000L)) // pre-fork history intact

      // both alice transfers (block 2 old-branch-survivor, block 6 new) serve
      assert(cs1.findAllTransfers(Sentinels.EthToken, alice).count() == 2L)

      // ---- restart from the checkpoint: the tail continues exactly once ---
      q.stop()
      sub.push(mkChain(11, 12, hashAt(store, 10L)): _*)
      val q2 = FullIngest.start(spark.readStream
        .format(classOf[BundleStreamProvider].getName)
        .option(BundleStream.SubscriptionOption, subId)
        .option(BundleStream.MaxBlocksOption, "3")
        .load(), store, client, checkpoint)
      try {
        q2.processAllAvailable()
        assert(ChainIngest.loadHead(store).exists(_.number == 12L))
        assert(BalanceIngest.processedThrough(store).contains(12L))
      } finally q2.stop()

      // nothing duplicated anywhere after reorg + replay + restart
      val dupTotals = store.readOr(BalanceIngest.TotalsTable, null)
        .groupBy("block_number", "group", "token").count()
        .filter(col("count") > 1).count()
      assert(dupTotals == 0L)
      val dupAcc = store.readOr(BalanceIngest.AccountsTable, null)
        .groupBy("block_number", "token", "address").count()
        .filter(col("count") > 1).count()
      assert(dupAcc == 0L)
      val dupHdr = store.readOr(ChainIngest.HeadersTable, null)
        .groupBy("number").count().filter(col("count") > 1).count()
      assert(dupHdr == 0L)
    } finally if (q.isActive) q.stop()
  }

  test("head-follow shape: one head per trigger through a 2-deep reorg lands the winning chain") {
    // the live indexer's shape: one block per micro-batch, every
    // subscription active (so each plain head is a quiet single block),
    // and a reorg head whose two retracted ancestors arrive by fetch-back
    val store = TableStore(spark, Files.createTempDirectory("graft-follow").toString)
    val subs = Seq((1L, 1L, 1L, alice), (2L, 1L, 2L, bob))
      .toDF("id", "block_number", "group", "address")
    store.replace(BalanceIngest.SubsTable, subs)
    val main = mkChain(1, 6, hash32(0), txsAt = Map(
      2L -> Seq(tx(1, alice, carol, 500, gasPrice = 100L)),
      5L -> Seq(tx(2, bob, alice, 300, gasPrice = 150L))))
    // 5'..7' on top of 4 and heavier: the head 7' retracts 5 and 6
    val fork = mkChain(5, 7, main(3).block.hash, difficulty = 5000L, hashSeedBase = 9000,
      txsAt = Map(6L -> Seq(tx(3, alice, bob, 700, gasPrice = 200L))))
    val forkByHash = fork.map(b => b.block.hash.toSeq -> b).toMap

    val subId = "full-follow"
    val sub   = new QueueHeadSubscription
    HeadSubscriptions.register(subId, sub)
    val bundles = spark.readStream
      .format(classOf[BundleStreamProvider].getName)
      .option(BundleStream.SubscriptionOption, subId)
      .option(BundleStream.MaxBlocksOption, "1")
      .load()
    val checkpoint = Files.createTempDirectory("graft-follow-ckpt").toString
    val client = BlockAwareBalanceClient(spark.sparkContext.longAccumulator("follow"))
    val q = FullIngest.start(bundles, store, client, checkpoint,
      fetchBack = h => sub.byHash(h).orElse(forkByHash.get(h)))
    try {
      (main :+ fork.last).foreach { b =>
        sub.push(b)
        q.processAllAvailable()
        assert(ChainIngest.loadHead(store).exists(_.number == b.block.number))
        assert(BalanceIngest.processedThrough(store).contains(b.block.number))
      }
      assert(q.recentProgress.count(_.numInputRows > 0) == main.length + 1,
        "one micro-batch per pushed head")
    } finally q.stop()
    val reorgs = store.readOr(ChainIngest.ReorgsTable, null).collect()
    assert(reorgs.length == 1 && reorgs(0).getAs[Long]("from") == 5L)

    // one direct batch of the winning chain on a fresh store
    val direct = TableStore(spark, Files.createTempDirectory("graft-follow-direct").toString)
    direct.replace(BalanceIngest.SubsTable, subs)
    FullIngest.processBatch(spark, direct, (main.take(4) ++ fork).toDS().toDF(),
      BlockAwareBalanceClient(spark.sparkContext.longAccumulator("follow-direct")))

    def rows(s: TableStore, t: String): Seq[String] =
      s.readOr(t, null).collect().map(_.toSeq.map {
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case x => String.valueOf(x)
      }.mkString("|")).toSeq.sorted
    Seq(ChainIngest.HeadersTable, ChainIngest.TxTable, ChainIngest.ReceiptsTable,
        ChainIngest.LogsTable, ChainIngest.TdTable, ChainIngest.TransfersTable,
        ChainIngest.HeadTable, BalanceIngest.AccountsTable, BalanceIngest.TotalsTable,
        BalanceIngest.MatchedTable, BalanceIngest.SubsTable, BalanceIngest.LatestAccounts,
        BalanceIngest.LatestTotals, BalanceIngest.BalanceHeadTable,
        BalanceIngest.LedgerBlockTable).foreach { t =>
      assert(rows(store, t) == rows(direct, t), s"table $t diverged from the direct batch")
    }
    assert(rows(store, BalanceIngest.AccountsTable).nonEmpty)
  }

  test("a reorg invalidates the serving cache through the composed pipeline") {
    val store = TableStore(spark, Files.createTempDirectory("graft-cache-e2e").toString)
    val client = BlockAwareBalanceClient(spark.sparkContext.longAccumulator("cache-e2e"))
    FullIngest.processBatch(spark, store, mkChain(1, 8, hash32(0)).toDS().toDF(), client)

    val cached = CachedChainStore.live(() => facade(store))
    val oldHash6 = cached.findBlockByNumber(6L).head().getAs[Array[Byte]]("hash")
    assert(oldHash6.toSeq == hash32(6).toSeq)
    assert(cached.findBlockByNumber(9L).collect().isEmpty) // negative entry

    // heavier fork 5'..10' reorgs through the composed pipeline WITH the
    // cache attached: the retracted span evicts block 6's entry and the
    // landed span drops the stale negative for block 9
    FullIngest.processBatch(spark, store,
      mkChain(5, 10, hash32(4), difficulty = 5000L, hashSeedBase = 9000).toDS().toDF(),
      client, cache = Some(cached))

    val newHash6 = cached.findBlockByNumber(6L).head().getAs[Array[Byte]]("hash")
    assert(newHash6.toSeq == hash32(9006).toSeq, "must serve the winning branch, not the memo")
    assert(cached.findBlockByNumber(9L).count() == 1L, "landed block must not stay a cached miss")
  }

  test("mid-chain backfill: a fresh ledger starts at the first landed block") {
    // clean start at height 100 (the reference's loadLocalState-from-empty
    // path): the balance pipeline must begin at 100, not iterate absent
    // heights 0..99
    val store = TableStore(spark, Files.createTempDirectory("graft-midchain").toString)
    store.replace(BalanceIngest.SubsTable,
      Seq((1L, 0L, 1L, bob)).toDF("id", "block_number", "group", "address"))
    val client = BlockAwareBalanceClient(spark.sparkContext.longAccumulator("midchain"))

    FullIngest.processBatch(spark, store,
      mkChain(100, 103, hash32(99)).toDS().toDF(), client)
    assert(ChainIngest.loadHead(store).exists(_.number == 103L))
    assert(BalanceIngest.processedThrough(store).contains(103L))
    // bob (pending) admitted and seeded at the FIRST landed block
    val bobRow = facade(store).findAccount(Sentinels.EthToken, bob).head()
    assert(bobRow.getAs[Long]("block_number") == 100L)
  }

  test("crash mid-reorg: the replayed batch heals chain and balance state together") {
    // the hard crash window: the downstream hook dies after the balance
    // retraction but before the chain deletes — on the checkpoint replay
    // the chain is intact, the reorg re-detects from scratch, the hook
    // re-runs idempotently, and everything converges
    val store = TableStore(spark, Files.createTempDirectory("graft-crash2").toString)
    store.replace(BalanceIngest.SubsTable,
      Seq((1L, 1L, 1L, alice)).toDF("id", "block_number", "group", "address"))
    val client = BlockAwareBalanceClient(spark.sparkContext.longAccumulator("crash2"))
    val noTokens = Seq.empty[(Array[Byte], Long)].toDF("address", "block_number")

    val t2 = tx(1, alice, carol, 500, gasPrice = 100L)
    FullIngest.processBatch(spark, store,
      mkChain(1, 8, hash32(0), txsAt = Map(2L -> Seq(t2))).toDS().toDF(), client)
    assert(BalanceIngest.processedThrough(store).contains(8L))

    val t6 = tx(2, alice, carol, 700, gasPrice = 200L)
    val fork = mkChain(5, 10, hash32(4), difficulty = 5000L, hashSeedBase = 9000,
      txsAt = Map(6L -> Seq(t6)))
    val boom = intercept[RuntimeException] {
      ChainIngest.ingestBatch(spark, store, fork.toDS().toDF(), noTokens,
        onRetract = (lo, hi) => {
          BalanceIngest.retract(spark, store, lo, hi)
          throw new RuntimeException("crash after downstream retraction")
        })
    }
    assert(boom.getMessage.contains("crash"))
    // chain untouched (head still the old tip), balances already rewound
    assert(ChainIngest.loadHead(store).exists(_.number == 8L))
    assert(BalanceIngest.processedThrough(store).contains(4L))

    // the replayed batch (same bundles — offsets were never committed)
    FullIngest.processBatch(spark, store, fork.toDS().toDF(), client)
    assert(ChainIngest.loadHead(store).exists(_.number == 10L))
    assert(BalanceIngest.processedThrough(store).contains(10L))
    // one reorg, one audit row — the re-detected retraction must not
    // double-append it
    assert(store.readOr(ChainIngest.ReorgsTable, null).count() == 1L)
    val fee6 = store.readOr(BalanceIngest.TotalsTable, null)
      .filter(col("block_number") === 6L && col("group") === 1L)
      .head().getAs[java.math.BigDecimal]("tx_fee")
    assert(BigInt(fee6.toBigInteger) == BigInt(200L * 21000L))
    // pre-fork history intact after the double-retraction
    val fee2 = store.readOr(BalanceIngest.TotalsTable, null)
      .filter(col("block_number") === 2L && col("group") === 1L)
      .head().getAs[java.math.BigDecimal]("tx_fee")
    assert(BigInt(fee2.toBigInteger) == BigInt(100L * 21000L))
  }

  test("crash between ingest and balance work: the replayed batch completes it") {
    // the claimed replay contract: a batch that crashed AFTER chain ingest
    // but BEFORE balance processing re-delivers; admission ignores every
    // already-landed head (summary None) yet the balance watermark still
    // drives the interrupted work to the chain head
    val store = TableStore(spark, Files.createTempDirectory("graft-crash").toString)
    store.replace(BalanceIngest.SubsTable,
      Seq((1L, 1L, 1L, alice)).toDF("id", "block_number", "group", "address"))
    val client = BlockAwareBalanceClient(spark.sparkContext.longAccumulator("crash"))

    // "crash": chain ingest landed 1..3, balance pipeline never ran
    val t2 = tx(1, alice, carol, 500, gasPrice = 100L)
    val bundles = mkChain(1, 3, hash32(0), txsAt = Map(2L -> Seq(t2)))
    ChainIngest.ingestBatch(spark, store, bundles.toDS().toDF(),
      Seq.empty[(Array[Byte], Long)].toDF("address", "block_number"))
    assert(BalanceIngest.processedThrough(store).isEmpty)

    // replayed delivery of the same bundles: nothing admits, balances catch up
    FullIngest.processBatch(spark, store, bundles.toDS().toDF(), client)
    assert(BalanceIngest.processedThrough(store).contains(3L))
    val aliceRow = facade(store).findAccount(Sentinels.EthToken, alice).head()
    assert(aliceRow.getAs[Long]("block_number") == 2L)
    assert(BigInt(aliceRow.getAs[java.math.BigDecimal]("balance").toBigInteger) ==
      bal(alice, hashAt(store, 2L)))
  }
}
