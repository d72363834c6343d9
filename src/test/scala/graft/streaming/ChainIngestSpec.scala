package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.chain._
import graft.chain.Fixtures._
import graft.chain.Schemas._

/** Cross-restart state for the T7 spec (object: survives query restarts). */
object RestartProbe {
  val failuresLeft = new java.util.concurrent.atomic.AtomicInteger(0)
  val batchesSeen  = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** End-to-end reorg scenario from the reference's indexer tests
  * (service/indexer/indexer_test.go:101-1014): ingest a chain, deliver a
  * heavier fork, assert retraction + audit + TD + idempotency (T2/T3/T5/T6).
  */
class ChainIngestSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): TableStore =
    TableStore(spark, Files.createTempDirectory("graft-ingest").toString)

  private val noTokens = Seq.empty[(Array[Byte], Long)].toDF("address", "block_number")

  private def chain(start: Long, end: Long, parent: Array[Byte],
                    difficulty: Long = 1000L, hashSeedBase: Int = -1,
                    txsAt: Map[Long, Seq[Tx]] = Map.empty): Seq[Bundle] =
    bundleChain(start, end, parent, difficulty, hashSeedBase, txsAt)

  private def toBundleDf(bs: Seq[Bundle]): DataFrame = bs.toDS().toDF()

  private def ingest(store: TableStore, bs: Seq[Bundle]): Unit =
    ChainIngest.ingestBatch(spark, store, toBundleDf(bs), noTokens)

  private def headerNumbers(store: TableStore): Seq[Long] =
    store.readOr(ChainIngest.HeadersTable, null)
      .select("number").collect().map(_.getLong(0)).sorted.toSeq

  test("sequential ingest + catch-up chunks land all tables (T1/T3)") {
    val store = freshStore()
    val txs   = Map(3L -> Seq(tx(1, alice, bob, 500)))
    ingest(store, chain(1, 120, hash32(0), txsAt = txs)) // > 2 chunks of 50

    assert(headerNumbers(store) == (1L to 120L))
    val head = ChainIngest.loadHead(store).get
    assert(head.number == 120L)
    assert(head.td == BigInt(120) * 1000)
    val tds = store.readOr(ChainIngest.TdTable, null)
      .orderBy("block").select("td").collect().map(_.getDecimal(0).longValue())
    assert(tds.toSeq == (1L to 120L).map(_ * 1000))
    assert(store.readOr(ChainIngest.TxTable, null).count() == 1)
  }

  test("duplicate re-delivery is a no-op (T6)") {
    val store = freshStore()
    val bs    = chain(1, 10, hash32(0))
    ingest(store, bs)
    ingest(store, bs) // full replay
    ingest(store, bs.take(4)) // partial replay
    assert(headerNumbers(store) == (1L to 10L))
    assert(store.readOr(ChainIngest.TdTable, null).count() == 10)
    assert(!store.exists(ChainIngest.ReorgsTable))
  }

  test("lighter and equal-TD forks are ignored; heavier fork reorgs (T2/T5)") {
    val store = freshStore()
    ingest(store, chain(1, 10, hash32(0), difficulty = 1000L))
    val base6 = hash32(6) // canonical block 6's hash

    // Fork at 7 with LOWER total difficulty (same height, lighter blocks):
    // every header is at ≤ current height → ignored outright
    ingest(store, chain(7, 10, base6, difficulty = 500L, hashSeedBase = 7000))
    assert(headerNumbers(store) == (1L to 10L))
    assert(!store.exists(ChainIngest.ReorgsTable))

    // Fork at 7 reaching height 11, but LIGHTER in TD than the stored chain
    // (5 × 700 = 3500 < 4 × 1000 + anything): TD-only rule rejects it even
    // though it is LONGER (indexer.go:361-364)
    ingest(store, chain(7, 11, base6, difficulty = 700L, hashSeedBase = 8000))
    assert(headerNumbers(store) == (1L to 10L))
    assert(!store.exists(ChainIngest.ReorgsTable))

    // Heavier fork 7'..11' (5 × 2000 = 10000 > 4000): reorg
    val fork = chain(7, 11, base6, difficulty = 2000L, hashSeedBase = 9000)
    ingest(store, fork)
    val nums = headerNumbers(store)
    assert(nums == (1L to 11L))
    // retracted heights carry the fork's hashes now
    val storedHashes = store.readOr(ChainIngest.HeadersTable, null)
      .filter(col("number") >= 7).select("number", "hash").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    fork.foreach(b => assert(storedHashes(b.block.number) == b.block.hash.toSeq))

    // audit row: [7, old tip 10] with the OLD chain's hashes
    val reorgs = store.readOr(ChainIngest.ReorgsTable, null).collect()
    assert(reorgs.length == 1)
    assert(reorgs(0).getAs[Long]("from") == 7L)
    assert(reorgs(0).getAs[Long]("to") == 10L)
    assert(reorgs(0).getAs[Array[Byte]]("from_hash").toSeq == hash32(7).toSeq)
    assert(reorgs(0).getAs[Array[Byte]]("to_hash").toSeq == hash32(10).toSeq)

    // TD recomputed on the new branch: 6×1000 + 5×2000
    val head = ChainIngest.loadHead(store).get
    assert(head.number == 11L && head.td == BigInt(16000))
    val td11 = store.readOr(ChainIngest.TdTable, null)
      .filter(col("block") === 11L).select("td").head().getDecimal(0).longValue()
    assert(td11 == 16000L)

    // no orphaned payload rows outside the canonical chain
    assert(store.readOr(ChainIngest.TdTable, null).count() == 11)
  }

  test("reorg retracts payload rows from every table (T5/S12)") {
    val store = freshStore()
    val txs   = Map(8L -> Seq(tx(1, alice, bob, 500), tx(2, bob, carol, 700)))
    ingest(store, chain(1, 10, hash32(0), txsAt = txs))
    assert(store.readOr(ChainIngest.TxTable, null).count() == 2)

    // fork at 7, heavier, with its own tx at 9'
    val forkTxs = Map(9L -> Seq(tx(3, carol, alice, 900)))
    ingest(store, chain(7, 11, hash32(6), difficulty = 3000L,
      hashSeedBase = 9100, txsAt = forkTxs))

    val txRows = store.readOr(ChainIngest.TxTable, null)
      .select("block_number", "nonce").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(txRows == Set((9L, 3L))) // old-branch txs at 8 retracted
    // transfers: only new-branch reward rows + no rows in [7,10] from old chain
    val transferBlocks = store.readOr(ChainIngest.TransfersTable, null)
      .select("block_number").distinct().collect().map(_.getLong(0)).toSet
    assert(transferBlocks == (1L to 11L).toSet) // rewards exist per block
  }

  test("reorg + retraction + idempotent replay hold under the manifest commit mode") {
    // the T5/S12/T6 flow against the manifest commit protocol (the store's
    // only one): every retraction is a manifest-entry drop or swap, every
    // promote is one marker overwrite, and no rename happens anywhere
    val store = freshStore()
    val txs   = Map(8L -> Seq(tx(1, alice, bob, 500), tx(2, bob, carol, 700)))
    val main  = chain(1, 10, hash32(0), txsAt = txs)
    ingest(store, main)
    assert(store.readOr(ChainIngest.TxTable, null).count() == 2)

    val forkTxs = Map(9L -> Seq(tx(3, carol, alice, 900)))
    ingest(store, chain(7, 11, hash32(6), difficulty = 3000L,
      hashSeedBase = 9100, txsAt = forkTxs))
    val txRows = store.readOr(ChainIngest.TxTable, null)
      .select("block_number", "nonce").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(txRows == Set((9L, 3L)), "old-branch txs must retract under manifest mode")
    assert(headerNumbers(store) == (1L to 11L))
    assert(ChainIngest.loadHead(store).get.number == 11L)

    // replaying the ORIGINAL (now-lighter) chain is a no-op (T6)
    ingest(store, main)
    assert(headerNumbers(store) == (1L to 11L))
    assert(store.readOr(ChainIngest.TxTable, null).count() == 1)
  }

  test("same-height competing blocks in one batch: first wins, rest ignored (T2)") {
    val store = freshStore()
    val a     = chain(1, 5, hash32(0))
    val b5    = Bundle(block(5L, a(3).block.hash, difficulty = 9000L, hashSeed = 7777), Nil, Nil)
    // sorted fold sees canonical 5 first (same height → 5' ignored, ref
    // Listen: "Ignore old header"); exactly one row per height survives
    ingest(store, a :+ b5)
    val nums = store.readOr(ChainIngest.HeadersTable, null)
      .groupBy("number").count().select("count").collect().map(_.getLong(0))
    assert(nums.forall(_ == 1L))
    assert(store.readOr(ChainIngest.TdTable, null).groupBy("block").count()
      .select("count").collect().map(_.getLong(0)).forall(_ == 1L))
  }

  test("in-batch reorg: both branches delivered together, heavier wins (T5)") {
    val store = freshStore()
    val main  = chain(1, 10, hash32(0))
    val fork  = chain(7, 11, hash32(6), difficulty = 2000L, hashSeedBase = 9200)
    ingest(store, main ++ fork) // one batch carrying both branches
    val head = ChainIngest.loadHead(store).get
    assert(head.number == 11L)
    assert(head.td == BigInt(6 * 1000 + 5 * 2000))
    assert(headerNumbers(store) == (1L to 11L))
    val reorgs = store.readOr(ChainIngest.ReorgsTable, null).collect()
    assert(reorgs.length == 1 && reorgs(0).getAs[Long]("from") == 7L)
  }

  test("restart re-derives head from the sink when head_state is absent (T4)") {
    val store = freshStore()
    ingest(store, chain(1, 10, hash32(0)))
    // simulate a pre-head_state store (or lost state file)
    val hs = java.nio.file.Paths.get(store.root, ChainIngest.HeadTable)
    val walked = Files.walk(hs)
    try walked.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally walked.close()
    val head = ChainIngest.loadHead(store).get
    assert(head.number == 10L && head.td == BigInt(10000))
    // and ingest continues from it
    ingest(store, chain(11, 12, hash32(10)))
    assert(headerNumbers(store) == (1L to 12L))
  }

  test("a reorg deeper than reorgWindow is rejected, not half-applied") {
    val store = freshStore()
    ingest(store, chain(1, 10, hash32(0)))
    // heavier fork branching at 2 — depth 8 > reorgWindow 3: out of policy
    val fork = chain(2, 11, hash32(1), difficulty = 9000L, hashSeedBase = 9300)
    ChainIngest.ingestBatch(spark, store, toBundleDf(fork), noTokens, reorgWindow = 3L)
    assert(headerNumbers(store) == (1L to 10L)) // untouched
    assert(ChainIngest.loadHead(store).exists(_.number == 10L))
    assert(!store.exists(ChainIngest.ReorgsTable))
    // the same fork IS applied once the window allows it
    ChainIngest.ingestBatch(spark, store, toBundleDf(fork), noTokens, reorgWindow = 512L)
    assert(ChainIngest.loadHead(store).exists(_.number == 11L))
  }

  test("a gapped delivery (missing ancestors) inserts nothing, not partially") {
    val store = freshStore()
    ingest(store, chain(1, 10, hash32(0)))
    // blocks 15..20 arrive but 11..14 never delivered: unconnected orphans
    ingest(store, chain(15, 20, hash32(14)))
    assert(headerNumbers(store) == (1L to 10L))
    assert(ChainIngest.loadHead(store).exists(_.number == 10L))
    // once the gap fills, the whole run lands
    ingest(store, chain(11, 20, hash32(10)))
    assert(headerNumbers(store) == (1L to 20L))
  }

  test("runWithRestart resumes a failing query from its checkpoint (T7)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val checkpoint = Files.createTempDirectory("graft-t7-ckpt").toString
    val stream     = MemoryStream[Long]
    stream.addData(1L, 2L, 3L)
    RestartProbe.failuresLeft.set(1) // first batch attempt dies
    RestartProbe.batchesSeen.set(0)

    def mkQuery() = stream.toDS().writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Long], _: Long) =>
        if (RestartProbe.failuresLeft.getAndDecrement() > 0)
          throw new RuntimeException("simulated subscription drop")
        RestartProbe.batchesSeen.addAndGet(batch.collect().length)
        () // stop after success so awaitTermination returns
      }

    val runner = new Thread(() => ChainIngest.runWithRestart(
      () => {
        val q = mkQuery().start()
        // stop the query once the pending batch has COMPLETED (batchesSeen
        // moves) so awaitTermination exits — stopping on any earlier signal
        // (e.g. failuresLeft going negative at the START of the replay
        // batch) races the in-flight batch and cancels it under load
        new Thread(() => {
          while (q.isActive && RestartProbe.batchesSeen.get() == 0 &&
            q.exception.isEmpty) Thread.sleep(50)
          if (q.exception.isEmpty) { Thread.sleep(200); if (q.isActive) q.stop() }
        }).start()
        q
      },
      maxRestarts = 3, backoffMs = 100L))
    runner.start()
    runner.join(60000)
    assert(!runner.isAlive, "restart runner did not finish")
    // the replayed batch delivered all rows exactly once after the restart
    assert(RestartProbe.batchesSeen.get() == 3)
  }

  test("a fork split across batches lands via the side pool (T2/T5 piecewise)") {
    val store = freshStore()
    ingest(store, chain(1, 10, hash32(0), txsAt = Map(8L -> Seq(tx(1, alice, bob, 500)))))
    assert(ChainIngest.loadHead(store).exists(_.number == 10L))

    // fork 7'..12' @5000 arrives in two batches under the trigger cap: the
    // first piece is entirely at ≤ head height and admits nothing — its
    // bundles (including 8''s payload) must survive in the side pool
    val forkTx = tx(2, bob, carol, 700)
    val fork = chain(7, 12, hash32(6), difficulty = 5000L, hashSeedBase = 9000,
      txsAt = Map(8L -> Seq(forkTx)))
    val s1 = ChainIngest.ingestBatch(spark, store, toBundleDf(fork.take(3)), noTokens)
    assert(s1.isEmpty, "no admission, no retraction")
    assert(ChainIngest.loadHead(store).exists(_.number == 10L))
    assert(store.readOr(ChainIngest.SideTable, null).count() == 3L)

    // second piece: the tip beats the canonical TD and the branch traces
    // THROUGH the side pool back to the branch point at 6
    val s2 = ChainIngest.ingestBatch(spark, store, toBundleDf(fork.drop(3)), noTokens)
    assert(s2.contains(ChainIngest.BatchSummary(Some((7L, 12L)), Some((7L, 10L)))))
    val head = ChainIngest.loadHead(store).get
    assert(head.number == 12L)
    assert(head.td == BigInt(6 * 1000 + 6 * 5000))
    assert(headerNumbers(store) == (1L to 12L))
    val dups = store.readOr(ChainIngest.HeadersTable, null)
      .groupBy("number").count().filter(col("count") > 1).count()
    assert(dups == 0L)
    val reorgs = store.readOr(ChainIngest.ReorgsTable, null).collect()
    assert(reorgs.length == 1 && reorgs(0).getAs[Long]("from") == 7L &&
      reorgs(0).getAs[Long]("to") == 10L)

    // the winning branch's payload landed from the POOLED bundle, and the
    // losing branch's tx retracted
    val txFroms = store.readOr(ChainIngest.TxTable, null)
      .select("from").collect().map(_.getAs[Array[Byte]](0).toSeq).toSeq
    assert(txFroms == Seq(bob.toSeq))

    // accepted blocks leave the pool — a drained pool is DROPPED so the
    // steady-state ingest path pays nothing for it
    assert(!store.exists(ChainIngest.SideTable))
  }

  test("a retracted branch wins back via feed fetch-back (the getBlockByHash walk)") {
    // reorg war: canonical A (1..8, tx at 8) loses [7,8] to heavier fork B,
    // then an even heavier A-extension arrives whose ancestry (old 7,8) is
    // gone from every table AND from the pool — only the feed can serve it
    // by hash, exactly the reference's ancestor re-fetch
    val store = freshStore()
    val t8 = tx(1, alice, bob, 500)
    val chainA = chain(1, 8, hash32(0), txsAt = Map(8L -> Seq(t8)))
    val sub = new QueueHeadSubscription
    sub.push(chainA: _*)
    ingest(store, chainA)

    val forkB = chain(7, 12, hash32(6), difficulty = 5000L, hashSeedBase = 9000)
    sub.push(forkB: _*)
    ingest(store, forkB) // B wins: td 6·1000 + 6·5000 = 36000
    assert(ChainIngest.loadHead(store).exists(_.number == 12L))
    assert(store.readOr(ChainIngest.TxTable, null).count() == 0L) // A's tx retracted

    // A-extension 9A..13A on top of OLD block 8: td 8000 + 5·10000 = 58000
    val extA = chain(9, 13, hash32(8), difficulty = 10000L)
    sub.push(extA: _*)
    val s = ChainIngest.ingestBatch(spark, store, toBundleDf(extA), noTokens,
      fetchBack = sub.byHash)
    assert(s.contains(ChainIngest.BatchSummary(Some((7L, 13L)), Some((7L, 12L)))))
    val head = ChainIngest.loadHead(store).get
    assert(head.number == 13L)
    assert(head.td == BigInt(8 * 1000 + 5 * 10000))
    assert(headerNumbers(store) == (1L to 13L))
    // old canonical 7,8 re-landed from FETCHED bundles — hash AND payload
    val h8 = store.readRange(ChainIngest.HeadersTable, "number", 8, 8, null)
      .select("hash").head().getAs[Array[Byte]](0)
    assert(h8.toSeq == hash32(8).toSeq)
    val txs = store.readOr(ChainIngest.TxTable, null)
      .select("block_number").collect().map(_.getLong(0)).toSeq
    assert(txs == Seq(8L), "the fetched bundle must restore block 8's tx")
    // without fetch-back the same extension is an orphan (default None)
    val store2 = freshStore()
    ingest(store2, chainA); ingest(store2, forkB)
    ingest(store2, extA)
    assert(ChainIngest.loadHead(store2).exists(_.number == 12L))
  }

  test("wei amounts above Decimal(38,18) range survive end-to-end") {
    val store = freshStore()
    // 10^30 wei (≈ 1e12 ETH) — nulls out under a BigDecimal-encoded schema
    val big   = BigInt("1000000000000000000000000000000")
    val txs   = Map(1L -> Seq(tx(1, alice, bob, big)))
    ingest(store, chain(1, 1, hash32(0), txsAt = txs))
    val amount = store.readOr(ChainIngest.TxTable, null)
      .select("amount").head().getDecimal(0)
    assert(amount.toBigInteger == big.bigInteger)
  }
}
