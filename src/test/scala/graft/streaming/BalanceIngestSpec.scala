package graft.streaming

import java.nio.file.Files
import org.apache.spark.util.LongAccumulator
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.chain._
import graft.chain.Fixtures._
import graft.chain.Schemas._

/** Block-dependent fixture balances: g(address) + first payload byte of the
  * block hash, so consecutive blocks produce nonzero deltas.
  */
final case class BlockAwareBalanceClient(calls: LongAccumulator) extends BalanceClient {
  override def balances(blockHash: Array[Byte],
                        pairs: Seq[(Array[Byte], Array[Byte])]): Seq[String] = {
    calls.add(1)
    val salt = if (blockHash.nonEmpty) (blockHash(0) & 0xff).toLong else 0L
    pairs.map { case (_, a) => ((BigInt(1, a) % BigInt(10).pow(20)) + salt).toString }
  }
}

/** The complete reference lifecycle: ChainIngest lands blocks, then the
  * balance pipeline processes each one against compact persisted state —
  * snapshots, fees, totals, subscription flips, and the reorg path.
  */
class BalanceIngestSpec extends SparkSpec {
  import spark.implicits._

  private val noTokens = Seq.empty[(Array[Byte], Long)].toDF("address", "block_number")

  private def bal(addr: Array[Byte], blockHash: Array[Byte]): BigInt =
    (BigInt(1, addr) % BigInt(10).pow(20)) + (blockHash(0) & 0xff).toLong

  /** Landed hash of block n, read back through the store. */
  private def hashAt(store: TableStore, n: Long): Array[Byte] =
    store.readRange(ChainIngest.HeadersTable, "number", n, n, null)
      .select("hash").head().getAs[Array[Byte]](0)

  test("a first chunk of tx-less blocks leaves readable-empty tables (no schema-inference crash)") {
    // the advisor's scenario: every block in the first ingested chunk has
    // zero transactions, so transactions/receipts/logs land as
    // _SUCCESS-only dirs — exists() must read them as absent and the
    // balance pass must run to completion
    val store = TableStore(spark, Files.createTempDirectory("graft-bi0").toString)
    var parent = hash32(0)
    val bundles = (1L to 2L).map { n =>
      val b = block(n, parent); parent = b.hash; Bundle(b, Nil, Nil)
    }
    ChainIngest.ingestBatch(spark, store, bundles.toDS().toDF(), noTokens)
    assert(!store.exists(ChainIngest.TxTable) || store.readOr(ChainIngest.TxTable, null) != null)

    store.replace(BalanceIngest.SubsTable, // block_number 0 = NEW → seeded at 1
      Seq((1L, 0L, 1L, alice)).toDF("id", "block_number", "group", "address"))
    val client = BlockAwareBalanceClient(spark.sparkContext.longAccumulator("bi0"))
    BalanceIngest.processRange(spark, store, 1L, 2L, client) // must not throw
    // alice seeded at block 1; no fees anywhere (no transactions existed)
    val totals = store.readOr(BalanceIngest.TotalsTable, null).collect()
      .map(r => r.getAs[Long]("block_number") ->
        BigInt(r.getAs[java.math.BigDecimal]("tx_fee").toBigInteger)).toMap
    assert(totals.values.forall(_ == BigInt(0)))
    assert(totals.contains(1L))
  }

  test("subscribed miner: rewards flow identically through per-block and span paths") {
    // the quiet single-block DRIVER fold and the vectorized span must
    // carry miner rewards (and fees) to a subscribed coinbase identically
    def mk(): TableStore = {
      val store = TableStore(spark,
        Files.createTempDirectory("graft-bi-miner").toString)
      var parent = hash32(0)
      val bundles = (1L to 3L).map { n =>
        val t = tx(n.toInt, alice, carol, 500, gasPrice = 100L)
        val b = block(n, parent, txs = Seq(t)); parent = b.hash
        Bundle(b, Seq(receipt(t, n)), Seq(TransferLog(t.hash, alice, carol, "500", n)))
      }
      ChainIngest.ingestBatch(spark, store, bundles.toDS().toDF(), noTokens)
      store.replace(BalanceIngest.SubsTable, // miner AND fee-payer subscribed
        Seq((1L, 1L, 1L, alice), (2L, 1L, 2L, miner))
          .toDF("id", "block_number", "group", "address"))
      store
    }
    val a = mk(); val b = mk()
    val ca = BlockAwareBalanceClient(spark.sparkContext.longAccumulator("bi-miner-a"))
    val cb = BlockAwareBalanceClient(spark.sparkContext.longAccumulator("bi-miner-b"))
    (1L to 3L).foreach(i => BalanceIngest.processRange(spark, a, i, i, ca)) // fast path
    BalanceIngest.processRange(spark, b, 1L, 3L, cb)                       // span path
    def rows(s: TableStore, t: String): Set[String] =
      s.readOr(t, null).collect().map(_.toSeq.map {
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case x => String.valueOf(x)
      }.mkString("|")).toSet
    Seq(BalanceIngest.TotalsTable, BalanceIngest.AccountsTable,
        BalanceIngest.MatchedTable, BalanceIngest.LatestTotals,
        BalanceIngest.LatestAccounts).foreach { t =>
      assert(rows(a, t) == rows(b, t), s"table $t diverged between paths")
    }
    // and the reward actually landed: group 2 (the miner's) carries a
    // positive miner_reward at every block, group 1 carries the tx fees
    val tot = a.readOr(BalanceIngest.TotalsTable, null).collect()
    (1L to 3L).foreach { n =>
      val g2 = tot.filter(r => r.getAs[Long]("block_number") == n &&
        r.getAs[Long]("group") == 2L)
      assert(g2.exists(r =>
        BigInt(r.getAs[java.math.BigDecimal]("miner_reward").toBigInteger) > 0),
        s"block $n: subscribed miner must accrue miner_reward")
      val g1 = tot.filter(r => r.getAs[Long]("block_number") == n &&
        r.getAs[Long]("group") == 1L)
      assert(g1.exists(r =>
        BigInt(r.getAs[java.math.BigDecimal]("tx_fee").toBigInteger) == BigInt(100L * 21000L)),
        s"block $n: subscribed sender must accrue the tx fee")
    }
  }

  test("new-token admission: pending registry rows seed active subs and flip to n+1") {
    val store = TableStore(spark, Files.createTempDirectory("graft-bi2").toString)
    var parent = hash32(0)
    val bundles = (1L to 2L).map { n =>
      val b = block(n, parent); parent = b.hash; Bundle(b, Nil, Nil)
    }
    ChainIngest.ingestBatch(spark, store, bundles.toDS().toDF(), noTokens)
    store.replace(BalanceIngest.SubsTable,
      Seq((1L, 0L, 1L, alice), (2L, 0L, 2L, bob))
        .toDF("id", "block_number", "group", "address"))
    val client = BlockAwareBalanceClient(spark.sparkContext.longAccumulator("bi2"))
    BalanceIngest.processRange(spark, store, 1L, 1L, client) // both flip active at 1

    // register token T as pending, then process block 2
    val tokenT = addr20(9)
    store.replace(BalanceIngest.RegistryTable,
      Seq((tokenT, 0L, 21, "TOK")).toDF("address", "block_number", "decimals", "name"))
    BalanceIngest.processRange(spark, store, 2L, 2L, client)

    // registry flipped to n+1 = 3 (the reference's "next block" rule)
    val regBlock = store.readOr(BalanceIngest.RegistryTable, null)
      .head().getAs[Long]("block_number")
    assert(regBlock == 3L)

    // both active subs seeded for T at block 2, client-derived balances
    val seeded = store.readOr(BalanceIngest.AccountsTable, null)
      .filter(col("token") === lit(tokenT)).collect()
      .map(r => (BigInt(1, r.getAs[Array[Byte]]("address")),
        r.getAs[Long]("block_number"),
        BigInt(r.getAs[java.math.BigDecimal]("balance").toBigInteger))).toSet
    assert(seeded == Set(
      (BigInt(1, alice), 2L, bal(alice, hashAt(store, 2L))),
      (BigInt(1, bob), 2L, bal(bob, hashAt(store, 2L)))))

    // per-group starting totals (A10) with zeroed fee/reward components
    val seedTotals = store.readOr(BalanceIngest.TotalsTable, null)
      .filter(col("token") === lit(tokenT)).collect()
      .map(r => r.getAs[Long]("group") ->
        ((BigInt(r.getAs[java.math.BigDecimal]("balance").toBigInteger),
          BigInt(r.getAs[java.math.BigDecimal]("tx_fee").toBigInteger)))).toMap
    assert(seedTotals == Map(
      1L -> ((bal(alice, hashAt(store, 2L)), BigInt(0))),
      2L -> ((bal(bob, hashAt(store, 2L)), BigInt(0)))))

    // compact state includes the seeds
    val st = BalanceIngest.loadState(spark, store)
    assert(st.latestAccounts.filter(col("token") === lit(tokenT)).count() == 2L)

    // replaying block 2 re-seeds the wiped rows: still exactly one row per sub
    BalanceIngest.processRange(spark, store, 2L, 2L, client)
    assert(store.readOr(BalanceIngest.AccountsTable, null)
      .filter(col("token") === lit(tokenT)).count() == 2L)
    assert(store.readOr(BalanceIngest.RegistryTable, null)
      .head().getAs[Long]("block_number") == 3L)
  }

  test("ingest → per-block balance processing → totals, fees, flips, reorg") {
    val store = TableStore(spark, Files.createTempDirectory("graft-bi").toString)

    // chain 1..3: block 2 carries alice→carol (tx + eth transfer log)
    val t2 = tx(1, alice, carol, 500, gasPrice = 100L)
    var parent = hash32(0)
    val bundles = (1L to 3L).map { n =>
      val txs = if (n == 2L) Seq(t2) else Nil
      val b   = block(n, parent, txs = txs)
      parent = b.hash
      val logs = if (n == 2L) Seq(TransferLog(t2.hash, alice, carol, "500", 2L)) else Nil
      Bundle(b, txs.map(receipt(_, n)), logs)
    }
    ChainIngest.ingestBatch(spark, store, bundles.toDS().toDF(), noTokens)

    // subscriptions: alice active since 1 (group 1), bob NEW (group 2)
    store.replace(BalanceIngest.SubsTable,
      Seq((1L, 1L, 1L, alice), (2L, 0L, 2L, bob)).toDF("id", "block_number", "group", "address"))

    val calls  = spark.sparkContext.longAccumulator("bi-calls")
    val client = BlockAwareBalanceClient(calls)
    BalanceIngest.processRange(spark, store, 1L, 3L, client)

    // bob (new at 1) seeded with the full balance at block 1
    val accounts = store.readOr(BalanceIngest.AccountsTable, null).collect()
      .map(r => (r.getAs[Array[Byte]]("address").toSeq, r.getAs[Long]("block_number")) ->
        BigInt(r.getAs[java.math.BigDecimal]("balance").toBigInteger)).toMap
    assert(accounts((bob.toSeq, 1L)) == bal(bob, hashAt(store, 1L)))
    // alice touched at block 2 (tx sender) → snapshot at 2
    assert(accounts((alice.toSeq, 2L)) == bal(alice, hashAt(store, 2L)))
    assert(!accounts.contains((alice.toSeq, 1L))) // untouched at 1

    // totals: group 2 at block 1 = bob's seed; carried to absence at 2
    // (bob untouched at 2 → no delta row for group 2 at 2)
    val totals = store.readOr(BalanceIngest.TotalsTable, null).collect()
      .map(r => (r.getAs[Long]("block_number"), r.getAs[Long]("group")) ->
        (BigInt(r.getAs[java.math.BigDecimal]("balance").toBigInteger),
          BigInt(r.getAs[java.math.BigDecimal]("tx_fee").toBigInteger))).toMap
    assert(totals((1L, 2L))._1 == bal(bob, hashAt(store, 1L)))
    // group 1 at block 2: alice's delta folded in, fee = 100 gas_price × 21000 gas
    assert(totals((2L, 1L))._2 == BigInt(100L * 21000L))

    // subscription flip: bob active since block 1 now
    val flipped = store.readOr(BalanceIngest.SubsTable, null)
      .filter(col("id") === 2L).head().getAs[Long]("block_number")
    assert(flipped == 1L)

    // compact state persisted: one row per key, latest block values
    val state = BalanceIngest.loadState(spark, store)
    assert(state.latestAccounts.groupBy("token", "address").count()
      .select("count").collect().forall(_.getLong(0) == 1L))

    // ---- reorg at 2: balance rows retract and state rebuilds -------------
    BalanceIngest.retract(spark, store, 2L, 3L)
    val after = store.readOr(BalanceIngest.AccountsTable, null)
      .select("block_number").collect().map(_.getLong(0))
    assert(after.forall(_ < 2L))
    val rebuilt = BalanceIngest.loadState(spark, store)
    val latestBob = rebuilt.latestAccounts.filter(col("address") === lit(bob)).head()
    assert(latestBob.getAs[Long]("block_number") == 1L)

    // reprocess 2..3 (e.g. the winning branch re-landed by ChainIngest)
    BalanceIngest.processRange(spark, store, 2L, 3L, client)
    val totals2 = store.readOr(BalanceIngest.TotalsTable, null)
      .filter(col("block_number") === 2L && col("group") === 1L).head()
    assert(BigInt(totals2.getAs[java.math.BigDecimal]("tx_fee").toBigInteger) ==
      BigInt(100L * 21000L))

    // replaying a block is idempotent: no duplicated (block, group, token)
    BalanceIngest.processRange(spark, store, 3L, 3L, client)
    val dupTotals = store.readOr(BalanceIngest.TotalsTable, null)
      .groupBy("block_number", "group", "token").count()
      .filter(col("count") > 1).count()
    assert(dupTotals == 0L)
    val dupAccounts = store.readOr(BalanceIngest.AccountsTable, null)
      .groupBy("block_number", "token", "address").count()
      .filter(col("count") > 1).count()
    assert(dupAccounts == 0L)

    // ---- subscription watermark reset: a sub admitted INSIDE a retracted
    // range returns to pending (subscription.go Reset via store.go:339-342)
    // while subs admitted before the range keep their watermark
    store.replace(BalanceIngest.SubsTable,
      store.readOr(BalanceIngest.SubsTable, null).unionByName(
        Seq((3L, 0L, 3L, carol)).toDF("id", "block_number", "group", "address")))
    BalanceIngest.processRange(spark, store, 3L, 3L, client) // admits carol at 3
    def subBlock(id: Long): Long = store.readOr(BalanceIngest.SubsTable, null)
      .filter(col("id") === id).head().getAs[Long]("block_number")
    assert(subBlock(3L) == 3L)
    BalanceIngest.retract(spark, store, 3L, 3L)
    assert(subBlock(3L) == 0L, "in-range admission must reset to pending")
    assert(subBlock(2L) == 1L, "pre-range admission must keep its watermark")
  }

  /** Chain 1..n where every block carries one alice→carol tx. */
  private def ingestActiveChain(store: TableStore, n: Long): Unit = {
    var parent = hash32(0)
    val bundles = (1L to n).map { i =>
      val t = tx(i.toInt, alice, carol, 500, gasPrice = 100L)
      val b = block(i, parent, txs = Seq(t)); parent = b.hash
      Bundle(b, Seq(receipt(t, i)), Seq(TransferLog(t.hash, alice, carol, "500", i)))
    }
    ChainIngest.ingestBatch(spark, store, bundles.toDS().toDF(), noTokens)
  }

  private def snapshotTables(store: TableStore): Map[String, Set[String]] =
    Seq(BalanceIngest.AccountsTable, BalanceIngest.TotalsTable,
      BalanceIngest.MatchedTable, BalanceIngest.SubsTable).map { t =>
      val df = store.readOr(t, null)
      t -> (if (df == null) Set.empty[String]
            else df.collect().map { r =>
              r.toSeq.map {
                case b: Array[Byte] => BigInt(1, b).toString
                case d: java.math.BigDecimal => d.toBigInteger.toString
                case v => String.valueOf(v)
              }.mkString("|")
            }.toSet)
    }.toMap

  test("quiet catch-up span runs as one DAG: Spark job count is O(1) in span length") {
    def countJobs(n: Long): (TableStore, Int) = {
      val store = TableStore(spark, Files.createTempDirectory("graft-bi-vec").toString)
      ingestActiveChain(store, n)
      // alice active since genesis — no pending subs, no registry: all quiet
      store.replace(BalanceIngest.SubsTable,
        Seq((1L, 1L, 1L, alice)).toDF("id", "block_number", "group", "address"))
      val client = BlockAwareBalanceClient(spark.sparkContext.longAccumulator(s"bi-vec-$n"))
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try BalanceIngest.processRange(spark, store, 1L, n, client)
      finally spark.sparkContext.removeSparkListener(listener)
      (store, jobs.get())
    }
    // per-block processing launches ~a dozen Spark actions per block (the
    // round-7 scale bottleneck) — tripling the span must NOT triple the
    // jobs; deleteRange decides from dir bounds and adds none per span
    val (_, jobs4)      = countJobs(4L)
    val (store, jobs12) = countJobs(12L)
    assert(jobs12 < 90, s"expected a bounded job count, got $jobs12")
    assert(jobs12 - jobs4 < 20,
      s"job count must not scale with span length: 4 blocks → $jobs4, 12 blocks → $jobs12")

    // running total telescopes to the balance at the span head: Σ deltas =
    // bal(12) − bal(1) and block 1 seeds nothing (alice active pre-span,
    // no prior snapshot → delta = full balance)
    val totals = store.readOr(BalanceIngest.TotalsTable, null).collect()
      .map(r => r.getAs[Long]("block_number") ->
        BigInt(r.getAs[java.math.BigDecimal]("balance").toBigInteger)).toMap
    assert(totals(12L) == bal(alice, hashAt(store, 12L)))
    // every block carries a fee row (alice sends each block)
    assert(totals.keySet == (1L to 12L).toSet)
    assert(BalanceIngest.processedThrough(store).contains(12L))
  }

  test("vectorized span is row-identical to block-at-a-time processing") {
    def build(): TableStore = {
      val s = TableStore(spark, Files.createTempDirectory("graft-bi-eq").toString)
      ingestActiveChain(s, 8L)
      // alice active from the start, bob PENDING → block 1 is an event
      // block (per-block bracket), 2..8 are quiet (vectorized in store A)
      s.replace(BalanceIngest.SubsTable,
        Seq((1L, 1L, 1L, alice), (2L, 0L, 2L, bob))
          .toDF("id", "block_number", "group", "address"))
      s
    }
    val a = build(); val b = build()
    val client = BlockAwareBalanceClient(spark.sparkContext.longAccumulator("bi-eq"))
    BalanceIngest.processRange(spark, a, 1L, 8L, client)
    (1L to 8L).foreach(n => BalanceIngest.processRange(spark, b, n, n, client))
    val sa = snapshotTables(a); val sb = snapshotTables(b)
    sa.keys.foreach { t => assert(sa(t) == sb(t), s"table $t diverged") }
    // the compact state converges identically too
    def stateRows(s: TableStore): Set[String] =
      BalanceIngest.loadState(spark, s).latestAccounts.collect().map { r =>
        r.toSeq.map {
          case bs: Array[Byte] => BigInt(1, bs).toString
          case d: java.math.BigDecimal => d.toBigInteger.toString
          case v => String.valueOf(v)
        }.mkString("|")
      }.toSet
    assert(stateRows(a) == stateRows(b))
  }

  test("crash between state swap and watermark advance rolls back and replays clean") {
    def build(): TableStore = {
      val s = TableStore(spark, Files.createTempDirectory("graft-bi-crash").toString)
      ingestActiveChain(s, 3L)
      s.replace(BalanceIngest.SubsTable,
        Seq((1L, 1L, 1L, alice)).toDF("id", "block_number", "group", "address"))
      s
    }
    val client = BlockAwareBalanceClient(spark.sparkContext.longAccumulator("bi-crash"))

    // clean reference run: block 1, then bob subscribes, then 2..3
    val clean = build()
    BalanceIngest.processRange(spark, clean, 1L, 1L, client)
    clean.replace(BalanceIngest.SubsTable,
      clean.readOr(BalanceIngest.SubsTable, null).unionByName(
        Seq((2L, 0L, 2L, bob)).toDF("id", "block_number", "group", "address")))
    BalanceIngest.processRange(spark, clean, 2L, 3L, client)

    // crashed run: block 2 completes everything EXCEPT the watermark
    // advance (state swapped, bob flipped, history appended) — simulated by
    // rolling balance_head back while ledger_block stays at 2
    val crashed = build()
    BalanceIngest.processRange(spark, crashed, 1L, 1L, client)
    crashed.replace(BalanceIngest.SubsTable,
      crashed.readOr(BalanceIngest.SubsTable, null).unionByName(
        Seq((2L, 0L, 2L, bob)).toDF("id", "block_number", "group", "address")))
    BalanceIngest.processRange(spark, crashed, 2L, 2L, client)
    crashed.replace(BalanceIngest.BalanceHeadTable, Seq(Tuple1(1L)).toDF("number"))

    // the replay must detect ledger_block(2) > balance_head(1), retract the
    // uncommitted block — including bob's flip — and reprocess 2..3; without
    // the rollback, bob's seed row is wiped by the delete bracket and never
    // re-created, and totals diff against state that already contains 2
    BalanceIngest.processRange(spark, crashed, 2L, 3L, client)
    val sc0 = snapshotTables(clean); val sc1 = snapshotTables(crashed)
    sc0.keys.foreach { t => assert(sc0(t) == sc1(t), s"table $t diverged after crash replay") }
    assert(BalanceIngest.processedThrough(crashed).contains(3L))
  }
}
