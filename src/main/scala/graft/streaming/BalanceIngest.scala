package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.chain._
import graft.chain.Schemas.Sentinels
import graft.operators.Relational

/** The reference's FULL per-block lifecycle composed over the ingested
  * tables: after ChainIngest lands a block's rows, the transfer processor
  * runs for that block (store/store.go:215-316 stage 6 →
  * store/transfer_processor.go:85-418) — matched transfers, balance
  * snapshots via the batched resolver, per-(group, token) running totals —
  * and the compact ledger state persists for the next block.
  *
  * Block sequencing is NOT always per-block: the reference runs a MySQL
  * transaction per block because MySQL is its state store, not because the
  * math needs it. Here a span with no pending subscriptions and no pending
  * registry tokens (the overwhelmingly common catch-up case) is processed
  * as ONE windowed DAG — deltas and running totals via
  * `Window.partitionBy(key).orderBy(block_number)` — so a million-block
  * backfill costs a bounded number of Spark jobs, not ~a dozen per block.
  * Only "event" blocks (a pending subscription to admit, a pending token to
  * seed) fall back to the per-block bracket, whose state carry is
  * semantically sequential.
  *
  * Crash contract: `balance_head` is the commit point. The compact-state
  * swap writes a `ledger_block` marker FIRST (promote order inside the
  * staged [[TableStore.replaceAll]]); finding `ledger_block` ahead of
  * `balance_head` on entry means a crash landed between the state swap and
  * the watermark advance, and everything past the watermark — history rows,
  * subscription flips, the compact state — rolls back via [[retract]]
  * before reprocessing. Without this, a replayed block diffs against state
  * that already contains it (`block_number < n` filters see nothing) and a
  * flipped-but-uncommitted subscription loses its seed row.
  */
object BalanceIngest {

  val AccountsTable  = "accounts"
  val TotalsTable    = "total_balances"
  val MatchedTable   = "matched_transfers"
  val SubsTable      = "subscriptions"
  val RegistryTable  = "erc20"
  val LatestAccounts = "latest_accounts"
  val LatestTotals   = "latest_totals"
  val BalanceHeadTable = "balance_head"
  /** Block the compact ledger state reflects — see the crash contract. */
  val LedgerBlockTable = "ledger_block"

  private val wei = Rewards.wei
  private val zeroWei = lit(new java.math.BigDecimal(0)).cast(wei)

  /** Highest block the balance pipeline has processed — the single-row
    * watermark that makes the composed stream replay-safe: a micro-batch
    * re-delivered after a crash re-enters here and only the unprocessed
    * tail [watermark+1, chain head] runs (the reference gets the same
    * property from its per-block transaction bracket,
    * store/store.go:129-147).
    */
  def processedThrough(store: TableStore): Option[Long] =
    store.collectSmall(BalanceHeadTable)
      .flatMap(_.headOption.map(_.getAs[Long]("number")))

  private def ledgerBlock(store: TableStore): Option[Long] =
    store.collectSmall(LedgerBlockTable)
      .flatMap(_.headOption.map(_.getAs[Long]("number")))

  /** Load compact state; absent tables mean a fresh ledger. */
  def loadState(spark: SparkSession, store: TableStore): BalanceLedger.State = {
    val empty = BalanceLedger.empty(spark)
    BalanceLedger.State(
      latestAccounts = store.readOr(LatestAccounts, empty.latestAccounts),
      latestTotals   = store.readOr(LatestTotals, empty.latestTotals))
  }

  private def saveState(store: TableStore, state: BalanceLedger.State): Unit =
    // one staged swap: the totals plan reads the OLD accounts state
    store.replaceAll(Seq(
      LatestAccounts -> state.latestAccounts,
      LatestTotals   -> state.latestTotals))

  /** State and watermark swap for a processed quiet block/span, as
    * staging thunks and an ordered promote, so the quiet bracket can
    * overlap the state staging with its history appends in ONE Par.run.
    * The `ledger_block` marker is FIRST in the seq, so it promotes before
    * the state dirs, and the balance watermark promotes LAST — a crash
    * anywhere inside the swap leaves the marker ahead of the watermark and
    * the recovery path rolls the partial swap back.
    */
  private def commitStateStaged(spark: SparkSession, store: TableStore,
                                state: BalanceLedger.State, through: Long)
      : (Seq[() => Unit], () => Unit) = {
    import spark.implicits._
    val marker = Seq(Tuple1(through)).toDF("number")
    val (stage, promoteAll) = store.stageReplaceAll(Seq(
      LedgerBlockTable -> marker,
      LatestAccounts   -> state.latestAccounts,
      LatestTotals     -> state.latestTotals,
      BalanceHeadTable -> marker))
    (stage, () => {
      promoteAll()
      // driver-local markers: prime the cache so the next batch's ledger /
      // watermark reads cost no Spark job (promote order was owned above)
      store.primeSmall(LedgerBlockTable, marker)
      store.primeSmall(BalanceHeadTable, marker)
    })
  }

  /** Rebuild compact state from full history — the recovery path after a
    * reorg retraction (the reference re-reads its latest rows from MySQL
    * the same way, store/transfer_processor.go:259-313).
    */
  def rebuildState(spark: SparkSession, store: TableStore): BalanceLedger.State = {
    val empty = BalanceLedger.empty(spark)
    val acc = store.readOr(AccountsTable, empty.latestAccounts)
    val tot = store.readOr(TotalsTable, empty.latestTotals)
    BalanceLedger.State(
      latestAccounts = Relational.latestPerKey(
        acc.select("token", "address", "block_number", "balance"),
        Seq("token", "address"), Seq(col("block_number"))),
      latestTotals = Relational.latestPerKey(
        tot, Seq("group", "token"), Seq(col("block_number"))))
  }

  /** First block in [n, to] that needs the sequential per-block bracket:
    * a pending subscription (admitted at the very next processed block), a
    * pending registry token (seeded at the very next processed block), or a
    * token already flipped to m+1 with m in range (a replay must re-seed at
    * m). Quiet prefixes before the event vectorize. Bounded driver read:
    * the two limit-1 probes and the min() run as ONE union job — the loop
    * asks this question once per bracket, and three separate probe jobs
    * per block were a third of the per-block job budget.
    */
  private def firstEventBlock(store: TableStore, n: Long, to: Long): Option[Long] = {
    val subs = store.readOr(SubsTable, null)
    val reg  = store.readOr(RegistryTable, null)
    val probes = Seq(
      Option(subs).map(_.filter(col("block_number") === 0L)
        .select(lit("pending").as("k"), lit(0L).as("v")).limit(1)),
      Option(reg).map(_.filter(col("block_number") === 0L)
        .select(lit("pending").as("k"), lit(0L).as("v")).limit(1)),
      Option(reg).map(_.filter(col("block_number").between(n + 1, to + 1))
        .agg(min("block_number").as("v")).select(lit("seeded").as("k"), col("v")))
    ).flatten
    if (probes.isEmpty) return None
    val rows = probes.reduce(_ unionByName _).collect()
    if (rows.exists(_.getString(0) == "pending")) Some(n)
    else rows.collectFirst {
      case r if r.getString(0) == "seeded" && !r.isNullAt(1) => r.getLong(1) - 1L
    }
  }

  /** Process blocks [from, to] (already ingested by ChainIngest) through
    * the balance pipeline: quiet spans as one windowed DAG, event blocks
    * through the per-block bracket (admission caps, token seeding, flips).
    *
    * Assumes the stored chain is contiguous over [from, to] up to its head
    * (ChainIngest lands chunks contiguously): the watermark advances over
    * the whole span, so a height absent from `block_headers` is treated as
    * never-landed — permanently skipped, not retried. A gapped store (which
    * ChainIngest never produces) would need per-height absence tracking.
    */
  def processRange(
      spark: SparkSession,
      store: TableStore,
      from: Long,
      to: Long,
      client: BalanceClient,
      newSubLimit: Int = 990,
      metrics: Option[IngestMetrics] = None): Unit = {
    import spark.implicits._
    // watermark carried through the loop (read once, not per block);
    // monotonic — replaying an old block must not lower "processed through"
    var wm = processedThrough(store).getOrElse(-1L)
    // crash recovery: state committed past the watermark means the previous
    // run died between the state swap and the advance — roll everything
    // past the watermark back before reprocessing (see the crash contract)
    ledgerBlock(store).filter(_ > wm).foreach { ahead =>
      retract(spark, store, wm + 1, ahead)
    }
    def advance(n: Long): Unit = if (n > wm) {
      store.replaceSmall(BalanceHeadTable, Seq(Tuple1(n)).toDF("number"))
      wm = n
    }
    // un-subscribed stores are a pure watermark advance — the reference
    // only transfer-processes when subscriptions exist
    if (store.readOr(SubsTable, null) == null) { advance(to); return }
    // LAZY state reload: each bracket persists its successor state and the
    // next iteration re-opens it from the store (lineage truncation), but
    // the LAST bracket's reload has no consumer — loading on demand makes
    // the loop-exit reload free, which in head-follow mode (one bracket
    // per processRange call) is one table-open + analysis per block saved
    var stateCache: BalanceLedger.State = null
    def state: BalanceLedger.State = {
      if (stateCache == null) stateCache = loadState(spark, store)
      stateCache
    }
    var n = from
    while (n <= to) {
      firstEventBlock(store, n, to) match {
        case Some(e) if e == n =>
          // the block's commit bracket persists the watermark itself (the
          // head marker rides the staged promote); only the loop variable
          // advances here
          if (processBlock(spark, store, n, client, newSubLimit, state,
              nn => wm = math.max(wm, nn), metrics))
            stateCache = null // the bracket swapped the state dirs
          n += 1
        case other =>
          val hi = other.map(_ - 1L).getOrElse(to)
          if (n == hi) processSingleQuietBlock(spark, store, n, client, state, metrics)
          else processQuietSpan(spark, store, n, hi, client, state, metrics)
          stateCache = null // the span bracket always swaps state
          // the span's commit bracket already swapped the watermark (the
          // head rides the state promote) — only the loop variable needs
          // the advance
          wm = math.max(wm, hi)
          n = hi + 1
      }
    }
    advance(to) // no-work tail collapses into one write
  }

  /** The sequential per-block bracket — the reference's
    * one-transaction-per-block (store/store.go:129-147), needed when the
    * block admits subscriptions or seeds tokens (state carries
    * block-to-block). Returns the state loaded after the block's swap.
    */
  private def processBlock(
      spark: SparkSession,
      store: TableStore,
      n: Long,
      client: BalanceClient,
      newSubLimit: Int,
      state0: BalanceLedger.State,
      advance: Long => Unit,
      metrics: Option[IngestMetrics]): Boolean = {
    import spark.implicits._
    val state = state0
    val transfers = store.readRange(ChainIngest.TransfersTable, "block_number", n, n, null)
    val txs       = store.readRange(ChainIngest.TxTable, "block_number", n, n, null)
    val receipts  = store.readRange(ChainIngest.ReceiptsTable, "block_number", n, n, null)
    val subs      = store.readOr(SubsTable, null)
    // un-landed heights are no-ops (a watermark range wider than the
    // stored chain, e.g. a genesis-0 start when the chain begins at 1):
    // the reference only transfer-processes blocks it actually inserted,
    // and running the pipeline on an absent block would wrongly seed
    // pending registry tokens against an empty block hash
    val blockHashOpt =
      if (subs == null) None
      else store.readRange(ChainIngest.HeadersTable, "number", n, n, null)
        .select("hash").collect().headOption.map(_.getAs[Array[Byte]](0))
    blockHashOpt.foreach { blockHash =>

      // resolver request set: every touched-or-new subscribed address ×
      // every token seen in the block (plus ETH) — the same set the
      // reference batches to geth (client/balancer.go:43-116)
      val active  = BalancePipeline.activeSubs(subs, newSubLimit)
      val touched = BalancePipeline.changedAddresses(transfers, txs)
        .join(active.select("address"), Seq("address"), "left_semi")
        .unionByName(BalancePipeline.admittedNewSubs(subs, newSubLimit).select("address"))
        .dropDuplicates("address")
      val tokens = transfers.select(col("token")).distinct()
        .unionByName(Seq(Tuple1(Sentinels.EthToken)).toDF("token"))
        .dropDuplicates("token")
      val pairs    = tokens.crossJoin(touched)
      val resolver = BalanceResolver.resolve(pairs, blockHash, client)

      val in = BalancePipeline.Inputs(n, transfers, txs, receipts, subs,
        accounts = null, resolver = resolver, prevTotals = null)
      val (out, next0) = BalanceLedger.step(state, in, newSubLimit)

      // New-token admission (initNewERC20, store/new_erc20.go:41-175):
      // every PENDING registry row seeds a balance for every ACTIVE
      // subscription at n through the same batched resolver, plus the
      // per-(group, token) starting totals (A10), and its watermark
      // flips to n+1 — the reference's "next block" convention, so the
      // token's events are transfer-processed from n+1 on. The pending
      // set includes tokens already flipped to n+1 so that REPLAYING
      // block n re-seeds exactly the rows its delete bracket wipes.
      val registry = store.readOr(RegistryTable, null)
      val seeds = Option(registry).map { reg =>
        reg.filter(col("block_number") === 0L || col("block_number") === n + 1)
          .select(col("address").as("token"))
      }.filter(_.limit(1).collect().nonEmpty).map { pend =>
        // flip-before-seed ordering (transfer_processor.go:316 before
        // new_erc20.go's ListOldSubscriptions): subs admitted THIS block
        // are already active when the new token seeds, so union them in —
        // otherwise the (sub, token) seed row is missed and never heals
        val oldSubs = subs.filter(col("block_number") > 0L)
          .select("address", "group")
          .unionByName(out.updatedSubs.select("address", "group"))
          .dropDuplicates("address")
        val sBal = BalanceResolver.resolve(
          oldSubs.select("address").crossJoin(broadcast(pend)), blockHash, client)
        val sAcc = sBal.join(oldSubs, Seq("address"))
          .select(col("token"), col("address"), lit(n).as("block_number"),
            col("balance"), col("group"))
          .localCheckpoint(true) // must survive the registry swap below
        val sTot = sAcc.groupBy("group", "token")
          .agg(sum("balance").cast(wei).as("balance"))
          .select(lit(n).as("block_number"), col("token"), col("group"),
            col("balance"), zeroWei.as("tx_fee"), zeroWei.as("miner_reward"),
            zeroWei.as("uncles_reward"))
        (sAcc, sTot)
      }
      val next = seeds.fold(next0) { case (sAcc, sTot) =>
        BalanceLedger.State(
          latestAccounts = BalanceLedger.upsert(next0.latestAccounts,
            sAcc.select("token", "address", "block_number", "balance"),
            Seq("token", "address")),
          latestTotals = BalanceLedger.upsert(next0.latestTotals, sTot,
            Seq("group", "token")))
      }

      // replay-idempotent bracket (same as ChainIngest.appendChunk): a
      // reprocessed block rewrites its rows instead of duplicating them;
      // decided from the manifests' dir bounds, no job on the happy path
      store.deleteRangeAll(
        Seq(AccountsTable, TotalsTable, MatchedTable).map(_ -> "block_number"), n, n)

      // ONE concurrent bracket: the three history appends, the staging of
      // EVERY state swap the block performs (ledger marker, compact state,
      // registry token flip, subscription flip, balance watermark), and
      // the per-block gauges. Every staged plan reads only OLD files —
      // nothing is visible until the ordered promote below, whose order is
      // exactly the old sequential-swap order (marker, state, registry,
      // subs, head), so every crash window converges identically: marker
      // ahead of the watermark rolls back through the recovery retract.
      val marker = Seq(Tuple1(n)).toDF("number")
      val regFlip = seeds.map { _ => RegistryTable ->
        // flip seeded tokens to n+1 (BatchUpdateERC20BlockNumber); the
        // seed plans are checkpointed, so the registry swap is safe
        registry.withColumn("block_number",
          when(col("block_number") === 0L, lit(n + 1))
            .otherwise(col("block_number")))
      }
      // flip admitted new subs to active at n (BatchUpdateBlockNumber)
      val newSubs = subs.join(out.updatedSubs.select("id"), Seq("id"), "left_anti")
        .unionByName(out.updatedSubs)
      val (stage, promoteAll) = store.stageReplaceAll(
        Seq(LedgerBlockTable -> marker,
          LatestAccounts -> next.latestAccounts,
          LatestTotals   -> next.latestTotals) ++
        regFlip.toSeq ++
        Seq(SubsTable -> newSubs, BalanceHeadTable -> marker))
      // gauges the reference sets per processed block
      // (transfer_processor.go:42-43): both counts are tiny — admissions
      // cap at newSubLimit, touched is the block's subscribed∩changed set.
      // Operational signals, not ledger state: a crash-recovery replay of
      // an event block counts its admissions again
      val gauges = metrics.toSeq.map { m => () =>
        // both gauges in ONE union job instead of two count() jobs
        val counts = out.updatedSubs.select(lit("subs").as("k"))
          .unionByName(touched.select(lit("touched").as("k")))
          .groupBy("k").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        m.newSubscription.addAndGet(counts.getOrElse("subs", 0L))
        m.changedAccountPerBlock.set(counts.getOrElse("touched", 0L))
      }
      val accRows = out.newAccounts
        .select("token", "address", "block_number", "balance", "group")
      Par.run(Seq(
        () => store.appendRange(AccountsTable,
          seeds.fold(accRows)(s => accRows.unionByName(s._1)), "block_number", n, n),
        () => store.appendRange(TotalsTable,
          seeds.fold(out.totalBalances)(s => out.totalBalances.unionByName(s._2)),
          "block_number", n, n),
        () => store.appendRange(MatchedTable,
          out.matchedTransfers.select("token", "from", "to", "value", "block_number"),
          "block_number", n, n))
        ++ stage ++ gauges)
      promoteAll()
      store.primeSmall(LedgerBlockTable, marker)
      store.primeSmall(BalanceHeadTable, marker)
      advance(n) // the caller's watermark note — the store already swapped
    }
    // true ⇒ the bracket ran and swapped the state dirs (caller reloads
    // lazily); an un-landed height is a pure no-op
    blockHashOpt.nonEmpty
  }

  /** The head-follow steady state: ONE quiet block, folded on the DRIVER —
    * the reference's own architecture (it processes the block it holds in
    * memory, store/transfer_processor.go:85-418), with Spark kept for what
    * is genuinely distributed: the subscription/state-table probes and the
    * persisted commit bracket. A single block's working set is bounded by
    * BLOCK CONTENT (≤ a few thousand touched addresses × block tokens —
    * the reference batches the same set to geth per block), so the
    * resolver runs as direct chunked client calls and the delta/total
    * arithmetic is exact driver-side BigDecimal; the outputs land as
    * LocalRelations, which makes every staged write in the commit bracket
    * a single-stage job (the tiny sides broadcast job-free from
    * LocalTableScan) instead of the span DAG's serialized shuffle chains.
    *
    * Semantics are [[processQuietSpan]]'s, applied to one block: same
    * touched set, same resolver request set, same coalesce/`< n` base
    * contracts, same commit bracket and crash protocol (deleteRange sweep,
    * staged promote order, watermark rides the last promote). The
    * span/per-block equivalence property spec and the full-lifecycle specs
    * gate the two paths against each other.
    */
  private def processSingleQuietBlock(
      spark: SparkSession,
      store: TableStore,
      n: Long,
      client: BalanceClient,
      state0: BalanceLedger.State,
      metrics: Option[IngestMetrics]): Unit = {
    import scala.collection.immutable.ArraySeq
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    type A = ArraySeq[Byte]
    def k(b: Array[Byte]): A = ArraySeq.unsafeWrapArray(b)
    val minerK = k(Sentinels.MinerReward)
    val uncleK = k(Sentinels.UncleReward)
    val ethK   = k(Sentinels.EthToken)
    val zero   = java.math.BigDecimal.ZERO
    def add(a: java.math.BigDecimal, b: java.math.BigDecimal) = a.add(b)

    val subs = store.readOr(SubsTable, null)
    val nulB = lit(null).cast(BinaryType)
    val nulD = lit(null).cast(wei)
    val nulL = lit(null).cast(LongType)

    // ONE union job collects the whole block slice (transfers, txs,
    // receipts, header) — the per-table reads open only block n's dirs
    val slice = store.readRange(ChainIngest.TransfersTable, "block_number", n, n, null)
        .select(lit("t").as("kind"), col("token").as("b1"), col("from").as("b2"),
          col("to").as("b3"), col("value").cast(wei).as("d"), nulL.as("l"))
      .unionByName(store.readRange(ChainIngest.TxTable, "block_number", n, n, null)
        .select(lit("x").as("kind"), col("hash").as("b1"), col("from").as("b2"),
          nulB.as("b3"), nulD.as("d"), col("gas_price").as("l")))
      .unionByName(store.readRange(ChainIngest.ReceiptsTable, "block_number", n, n, null)
        .select(lit("r").as("kind"), col("tx_hash").as("b1"), nulB.as("b2"),
          nulB.as("b3"), nulD.as("d"), col("gas_used").as("l")))
      .unionByName(store.readRange(ChainIngest.HeadersTable, "number", n, n, null)
        .select(lit("h").as("kind"), col("hash").as("b1"), nulB.as("b2"),
          nulB.as("b3"), nulD.as("d"), nulL.as("l")))
      .collect()
    def bin(r: Row, i: Int): Option[A] =
      if (r.isNullAt(i)) None else Some(k(r.getAs[Array[Byte]](i)))
    final case class Tr(token: A, from: Option[A], to: Option[A],
                        value: java.math.BigDecimal)
    val transfers = slice.filter(_.getString(0) == "t").map { r =>
      Tr(bin(r, 1).get, bin(r, 2), bin(r, 3),
        Option(r.getAs[java.math.BigDecimal](4)).getOrElse(zero))
    }.toSeq
    val txRows = slice.filter(_.getString(0) == "x")
      .map(r => (bin(r, 1).get, bin(r, 2), r.getLong(5))) // (hash, from, gasPrice)
    val gasUsed: Map[A, Long] = slice.filter(_.getString(0) == "r")
      .map(r => bin(r, 1).get -> r.getLong(5)).toMap
    val headerHash: Option[Array[Byte]] =
      slice.find(_.getString(0) == "h").map(_.getAs[Array[Byte]](1))

    // changed-candidate set (the span's `changed` before the subs semi):
    // transfer from/to + tx from, minus sentinels and nulls
    def real(a: Option[A]): Option[A] =
      a.filter(x => x != minerK && x != uncleK)
    val candidates: Seq[A] =
      (transfers.flatMap(t => real(t.from) ++ real(t.to)) ++
        txRows.flatMap(t => real(t._2))).distinct

    // ONE job probes the subscription table for the candidates (group
    // attach + membership); first-seen per address, the span's
    // dropDuplicates contract
    val subsMap: scala.collection.Map[A, Long] =
      if (candidates.isEmpty) Map.empty
      else {
        val m = scala.collection.mutable.LinkedHashMap.empty[A, Long]
        subs.filter(col("block_number") > 0L &&
            col("address").isin(candidates.map(_.toArray): _*))
          .select("address", "group").collect()
          .foreach(r => m.getOrElseUpdate(k(r.getAs[Array[Byte]](0)), r.getLong(1)))
        m
      }
    val addrs: Seq[A] = candidates.filter(subsMap.contains)
    val tokens: Seq[A] =
      if (headerHash.isEmpty) Nil
      else (transfers.map(_.token) :+ ethK).distinct

    // ONE job probes both compact-state tables, `< n` exactly like the
    // span's base/totBase contracts (groups are known from the subs probe)
    val groups = subsMap.values.toSeq.distinct
    val (baseMap, totBaseMap) = {
      if (addrs.isEmpty && groups.isEmpty)
        (Map.empty[(A, A), java.math.BigDecimal], Map.empty[(Long, A), java.math.BigDecimal])
      else {
        val below = col("block_number") < n
        val acc =
          if (addrs.isEmpty) null
          else state0.latestAccounts.filter(below &&
              col("address").isin(addrs.map(_.toArray): _*))
            .select(lit("a").as("kind"), col("token"), col("address"),
              nulL.as("group"), col("balance").cast(wei).as("balance"))
        val tot =
          if (groups.isEmpty) null
          else state0.latestTotals.filter(below && col("group").isin(groups: _*))
            .select(lit("g").as("kind"), col("token"), nulB.as("address"),
              col("group"), col("balance").cast(wei).as("balance"))
        val both = (Option(acc) ++ Option(tot)).reduce(_ unionByName _).collect()
        (both.filter(_.getString(0) == "a")
           .map(r => (k(r.getAs[Array[Byte]](1)), k(r.getAs[Array[Byte]](2))) ->
             r.getAs[java.math.BigDecimal](4)).toMap,
         both.filter(_.getString(0) == "g")
           .map(r => (r.getLong(3), k(r.getAs[Array[Byte]](1))) ->
             r.getAs[java.math.BigDecimal](4)).toMap)
      }
    }

    // direct chunked resolver calls — the span's resolveAt request set
    // (tokens × changed-subscribed) at this block's hash, ≤1000 pairs per
    // client call (client/balancer.go:31-33)
    val pairs: Seq[(A, A)] = for (t <- tokens; a <- addrs) yield (t, a)
    val snaps: Seq[(A, A, java.math.BigDecimal, Long, java.math.BigDecimal)] =
      headerHash.toSeq.flatMap { h =>
        pairs.grouped(BalanceResolver.DefaultChunkSize).flatMap { chunk =>
          val got = client.balances(h, chunk.map(p => (p._1.toArray, p._2.toArray)))
          require(got.length == chunk.length,
            s"client returned ${got.length} balances for ${chunk.length} requests")
          chunk.zip(got).map { case ((t, a), s) =>
            val bal = new java.math.BigDecimal(s)
            val delta = bal.subtract(baseMap.getOrElse((t, a), zero))
            (t, a, bal, subsMap(a), delta)
          }
        }.toSeq
      }

    // matched transfers (the span's semiJoinAny over active subs — every
    // non-sentinel endpoint is a candidate, so the probe map decides)
    val matched = if (headerHash.isEmpty) Nil else transfers.filter(t =>
      t.from.exists(subsMap.contains) || t.to.exists(subsMap.contains))

    // fees per group: Σ gas_price × gas_used over subscribed senders' txs
    // (inner receipt join on hash, block-scoped by the ranged read)
    val feeByGroup: Map[Long, java.math.BigDecimal] = txRows
      .flatMap { case (hash, from, gasPrice) =>
        for (f <- from; g <- subsMap.get(f); gu <- gasUsed.get(hash))
          yield g -> java.math.BigDecimal.valueOf(gasPrice)
            .multiply(java.math.BigDecimal.valueOf(gu))
      }
      .groupMapReduce(_._1)(_._2)(add)
    // rewards per group: sentinel-from transfer rows to subscribed addrs
    def rewardByGroup(sentinel: A): Map[Long, java.math.BigDecimal] = transfers
      .filter(t => t.from.contains(sentinel))
      .flatMap(t => t.to.flatMap(subsMap.get).map(_ -> t.value))
      .groupMapReduce(_._1)(_._2)(add)
    val minerByGroup  = rewardByGroup(minerK)
    val unclesByGroup = rewardByGroup(uncleK)

    // totals rows: keys = delta keys ∪ fee/reward keys (the span's
    // full_outer union); balance = tbase + delta, fees/rewards ride as
    // their own columns exactly as in the span projection
    val deltaByKey: Map[(Long, A), java.math.BigDecimal] =
      snaps.groupMapReduce(s => (s._4, s._1))(_._5)(add)
    val totalKeys: Seq[(Long, A)] =
      (deltaByKey.keys ++ (feeByGroup.keys ++ minerByGroup.keys ++ unclesByGroup.keys)
        .map(g => (g, ethK))).toSeq.distinct
    val totals = totalKeys.map { case (g, t) =>
      val bal = totBaseMap.getOrElse((g, t), zero)
        .add(deltaByKey.getOrElse((g, t), zero))
      val eth = t == ethK
      (g, t, bal,
        if (eth) feeByGroup.getOrElse(g, zero) else zero,
        if (eth) minerByGroup.getOrElse(g, zero) else zero,
        if (eth) unclesByGroup.getOrElse(g, zero) else zero)
    }

    // LocalRelation outputs in the exact append/state schemas
    val weiT = wei.asInstanceOf[DataType]
    def df(schema: StructType, rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val accountsDf = df(
      StructType(Seq(StructField("token", BinaryType), StructField("address", BinaryType),
        StructField("block_number", LongType), StructField("balance", weiT),
        StructField("group", LongType))),
      snaps.map(s => Row(s._1.toArray, s._2.toArray, n, s._3, s._4)))
    val totalsDf = df(
      StructType(Seq(StructField("block_number", LongType), StructField("token", BinaryType),
        StructField("group", LongType), StructField("balance", weiT),
        StructField("tx_fee", weiT), StructField("miner_reward", weiT),
        StructField("uncles_reward", weiT))),
      totals.map(t => Row(n, t._2.toArray, t._1, t._3, t._4, t._5, t._6)))
    val matchedDf = df(
      StructType(Seq(StructField("token", BinaryType), StructField("from", BinaryType),
        StructField("to", BinaryType), StructField("value", weiT),
        StructField("block_number", LongType))),
      matched.map(t => Row(t.token.toArray, t.from.map(_.toArray).orNull,
        t.to.map(_.toArray).orNull, t.value, n)))

    // state folds: the upsert anti-join's tiny side is a LocalRelation —
    // broadcast-hinted, it materializes job-free from LocalTableScan and
    // each staged state write becomes one stage
    val accKeysDf = df(
      StructType(Seq(StructField("token", BinaryType), StructField("address", BinaryType))),
      snaps.map(s => Row(s._1.toArray, s._2.toArray)))
    val totKeysDf = df(
      StructType(Seq(StructField("group", LongType), StructField("token", BinaryType))),
      totals.map(t => Row(t._1, t._2.toArray)))
    val next = BalanceLedger.State(
      latestAccounts = state0.latestAccounts
        .join(broadcast(accKeysDf), Seq("token", "address"), "left_anti")
        .unionByName(accountsDf.drop("group")
          .select("token", "address", "block_number", "balance")),
      latestTotals = state0.latestTotals
        .join(broadcast(totKeysDf), Seq("group", "token"), "left_anti")
        .unionByName(totalsDf.select("block_number", "token", "group", "balance",
          "tx_fee", "miner_reward", "uncles_reward")))

    // commit bracket — identical protocol to the span path
    store.deleteRangeAll(
      Seq(AccountsTable, TotalsTable, MatchedTable).map(_ -> "block_number"), n, n)
    val (commitStage, promoteCommit) =
      commitStateStaged(spark, store, next, n)
    metrics.foreach(_.changedAccountPerBlock.set(
      snaps.map(_._2).distinct.size.toLong)) // driver-known, zero jobs
    Par.run(Seq(
      () => store.appendRange(AccountsTable, accountsDf, "block_number", n, n),
      () => store.appendRange(TotalsTable, totalsDf, "block_number", n, n),
      () => store.appendRange(MatchedTable, matchedDf, "block_number", n, n))
      ++ commitStage)
    promoteCommit()
  }

  /** Vectorized catch-up over a quiet span [lo, hi]: no subscriptions to
    * admit, no tokens to seed, so nothing the span computes feeds back into
    * its own inputs — the whole span is ONE relational DAG instead of a
    * per-block driver loop. Per-key sequencing (the delta against the
    * previous snapshot, the running total) becomes a window over
    * block_number; the resolver batches every (token, address, block)
    * triple in one distributed pass. Spark jobs per span: O(1), not O(hi −
    * lo) — at 100 TB this is what makes a million-block backfill hours, not
    * days of job-launch overhead.
    *
    * Semantics match [[processBlock]] exactly: same touched set, same
    * resolver request set per block, same delta/total arithmetic — the
    * BalanceIngestSpec equivalence case pins this.
    */
  private def processQuietSpan(
      spark: SparkSession,
      store: TableStore,
      lo: Long,
      hi: Long,
      client: BalanceClient,
      state0: BalanceLedger.State,
      metrics: Option[IngestMetrics]): Unit = {
    val subs      = store.readOr(SubsTable, null)
    val transfers = store.readRange(ChainIngest.TransfersTable, "block_number", lo, hi, null)
    val txs       = store.readRange(ChainIngest.TxTable, "block_number", lo, hi, null)
    val receipts  = store.readRange(ChainIngest.ReceiptsTable, "block_number", lo, hi, null)
    val headers   = store.readRange(ChainIngest.HeadersTable, "number", lo, hi, null)
      .select(col("number").as("block_number"), col("hash"))

    // quiet ⇒ every subscription is active; both projections broadcast
    // EXPLICITLY: this span DAG is the backfill hot path, and the hint
    // pins the broadcast in the static plan (no AQE conversion round,
    // futures overlap the span scan)
    val active    = subs.filter(col("block_number") > 0L)
    val subAddrs  = broadcast(active.select("address").distinct())
    val subGroups = broadcast(active.select("address", "group").dropDuplicates("address"))

    // per-block changed ∩ subscribed (BalancePipeline.changedAddresses with
    // block_number kept)
    val changed = transfers.select(col("block_number"), col("from").as("address"))
      .unionByName(transfers.select(col("block_number"), col("to").as("address")))
      .unionByName(txs.select(col("block_number"), col("from").as("address")))
      .filter(col("address").isNotNull &&
        col("address") =!= lit(Sentinels.MinerReward) &&
        col("address") =!= lit(Sentinels.UncleReward))
      .dropDuplicates("block_number", "address")
      .join(subAddrs, Seq("address"), "left_semi")

    // per-block token set: the block's transfer tokens plus ETH — joining
    // through headers restricts to landed heights and attaches the block
    // hash the resolver needs
    val tokens = transfers.select(col("block_number"), col("token"))
      .unionByName(headers.select(col("block_number"), lit(Sentinels.EthToken).as("token")))
      .dropDuplicates("block_number", "token")
    val pairs = tokens.join(changed, Seq("block_number")).join(headers, Seq("block_number"))

    // one distributed resolver pass for the whole span. NOT separately
    // checkpointed: `snaps` directly below is its only consumer and is
    // itself checkpointed, so the client still runs exactly once per
    // triple — one fewer materialization job in the per-block bracket.
    val resolved = BalanceResolver
      .resolveAt(pairs.select("token", "address", "block_number", "hash"), client)

    // delta per snapshot: against the previous snapshot WITHIN the span
    // (lag), else the compact state's latest balance, else zero — the
    // windowed form of balanceSnapshots' latest-prev diff. The base
    // filters to `< lo` exactly like the per-block path filters its
    // compact prev rows to `< n` (BalancePipeline.balanceSnapshots): a
    // no-op on the forward/recovered path (the committed state is always
    // below the span), and on a replay below the watermark both paths
    // identically treat the key as having no prior, instead of this one
    // silently diffing against future state.
    val base = state0.latestAccounts
      .filter(col("block_number") < lo)
      .select(col("token"), col("address"), col("balance").as("__base"))
    val wKey = Window.partitionBy("token", "address").orderBy("block_number")
    // checkpointed eagerly: snaps feeds FOUR downstream actions (accounts
    // append, totals via deltas, both state folds) — materializing the
    // windowed span once, before anything fans out, keeps each of them
    // from re-running the resolver pass and the base/group joins
    val snaps = resolved
      .join(base, Seq("token", "address"), "left_outer")
      .join(subGroups, Seq("address"))
      .withColumn("__prev", lag(col("balance"), 1).over(wKey))
      .withColumn("delta",
        (col("balance") - coalesce(col("__prev"), col("__base"), zeroWei)).cast(wei))
      .localCheckpoint(eager = true)

    // matched transfers over the whole span (J2), landed heights only
    val matched = Relational.semiJoinAny(
        transfers, active.select("address"), Seq("from", "to"), "address")
      .join(headers.select("block_number"), Seq("block_number"), "left_semi")

    // fees / rewards: per-block groupBys of feesBySender / rewardDiffs
    // join scoped to (hash, block) — per-block slicing gave processBlock
    // this for free; span-wide, hash alone would pair a tx with any
    // same-hash receipt residue elsewhere in the span
    val fees = txs
      .join(receipts.select(col("tx_hash"), col("gas_used"),
          col("block_number").as("__rbn")),
        txs("hash") === col("tx_hash") && txs("block_number") === col("__rbn"))
      .join(subAddrs, txs("from") === col("address"), "left_semi")
      .groupBy(txs("block_number").as("block_number"), txs("from").as("address"))
      .agg(sum(col("gas_price").cast(wei) * col("gas_used").cast(wei)).cast(wei).as("tx_fee"))
    val rewards = transfers
      .filter(col("from") === lit(Sentinels.MinerReward) ||
        col("from") === lit(Sentinels.UncleReward))
      .join(subAddrs, col("to") === col("address"), "left_semi")
      .groupBy(col("block_number"), col("to").as("address"))
      .agg(
        coalesce(sum(when(col("from") === lit(Sentinels.MinerReward), col("value"))), zeroWei)
          .cast(wei).as("miner_reward"),
        coalesce(sum(when(col("from") === lit(Sentinels.UncleReward), col("value"))), zeroWei)
          .cast(wei).as("uncles_reward"))

    // running totals: base from compact state + cumulative delta per
    // (group, token) — the windowed form of totalBalances' carry
    val deltas = snaps.groupBy("block_number", "group", "token")
      .agg(sum("delta").cast(wei).as("delta"))
    val feeByGroup = fees.join(subGroups, Seq("address"))
      .groupBy("block_number", "group").agg(sum("tx_fee").cast(wei).as("tx_fee"))
      .withColumn("token", lit(Sentinels.EthToken))
    val rewardByGroup = rewards.join(subGroups, Seq("address"))
      .groupBy("block_number", "group")
      .agg(sum("miner_reward").cast(wei).as("miner_reward"),
        sum("uncles_reward").cast(wei).as("uncles_reward"))
      .withColumn("token", lit(Sentinels.EthToken))
    val totBase = state0.latestTotals
      .filter(col("block_number") < lo) // same `< lo` contract as `base`
      .select(col("group"), col("token"), col("balance").as("__tbase"))
    val wTot = Window.partitionBy("group", "token").orderBy("block_number")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // checkpointed eagerly like snaps: the cumulative window materializes
    // once, up front
    val totals = deltas
      .join(feeByGroup, Seq("block_number", "group", "token"), "full_outer")
      .join(rewardByGroup, Seq("block_number", "group", "token"), "full_outer")
      .join(totBase, Seq("group", "token"), "left_outer")
      .select(
        col("block_number"), col("token"), col("group"),
        (coalesce(col("__tbase"), zeroWei) +
          sum(coalesce(col("delta"), zeroWei)).over(wTot)).cast(wei).as("balance"),
        coalesce(col("tx_fee"), zeroWei).cast(wei).as("tx_fee"),
        coalesce(col("miner_reward"), zeroWei).cast(wei).as("miner_reward"),
        coalesce(col("uncles_reward"), zeroWei).cast(wei).as("uncles_reward"))
      .localCheckpoint(eager = true)

    // the span's latest row per key
    val last = Seq(col("block_number"))
    val next = BalanceLedger.State(
      latestAccounts = BalanceLedger.upsert(state0.latestAccounts,
        Relational.latestPerKey(snaps.select("token", "address", "block_number", "balance"),
          Seq("token", "address"), last),
        Seq("token", "address")),
      latestTotals = BalanceLedger.upsert(state0.latestTotals,
        Relational.latestPerKey(totals, Seq("group", "token"), last),
        Seq("group", "token")))

    // replay-idempotent bracket over the whole span: deletes decided from
    // the manifests' dir bounds, then ONE concurrent bracket carrying
    // the history appends, the state+watermark staging, AND the span gauge
    // (the state plans read only OLD files until the ordered promote below
    // — marker first, state dirs, balance watermark last, same crash
    // protocol as before). The gauge counts off the snaps checkpoint:
    // snaps keeps exactly resolved's rows — every resolved address is
    // subscribed, so the subGroups join drops nothing.
    store.deleteRangeAll(
      Seq(AccountsTable, TotalsTable, MatchedTable).map(_ -> "block_number"), lo, hi)
    val (commitStage, promoteCommit) =
      commitStateStaged(spark, store, next, hi)
    val gauge = metrics.toSeq.map { m => () =>
      m.changedAccountPerBlock.set(
        snaps.select("block_number", "address").distinct().count() / (hi - lo + 1))
    }
    Par.run(Seq(
      () => store.appendRange(AccountsTable, snaps.select("token", "address",
        "block_number", "balance", "group"), "block_number", lo, hi),
      () => store.appendRange(TotalsTable, totals, "block_number", lo, hi),
      () => store.appendRange(MatchedTable,
        matched.select("token", "from", "to", "value", "block_number"), "block_number", lo, hi))
      ++ commitStage ++ gauge)
    promoteCommit()
    // successor state is in the store; the caller reloads lazily
  }

  /** Reorg path: retract balance rows in [from, to], RESET subscriptions
    * whose admission watermark fell inside the retracted range back to
    * pending (block_number 0 — store/subscription/subscription.go's
    * `Reset`, called from store/store.go:339-342), and rebuild the compact
    * state from the surviving history. The reset is what re-seeds those
    * addresses on the winning branch: their admission block no longer
    * exists, so they must re-enter through the new-subscription path. A
    * caller-persisted token registry composes the same way (the reference
    * resets erc20.block_number for tokens initialized in-range,
    * store/store.go:357-375).
    */
  def retract(spark: SparkSession, store: TableStore, from: Long, to: Long): Unit = {
    import spark.implicits._
    store.deleteRangeAll(
      Seq(AccountsTable, TotalsTable, MatchedTable).map(_ -> "block_number"), from, to)
    val subs = store.readOr(SubsTable, null)
    if (subs != null) {
      store.replace(SubsTable, subs.withColumn("block_number",
        when(col("block_number").between(from, to), lit(0L))
          .otherwise(col("block_number"))))
    }
    saveState(store, rebuildState(spark, store))
    // the retracted range is unprocessed again: the winning branch's blocks
    // at those heights must flow through the pipeline on reprocess; the
    // ledger marker lowers with the watermark so recovery stays idempotent
    if (ledgerBlock(store).exists(_ >= from))
      store.replaceSmall(LedgerBlockTable, Seq(Tuple1(from - 1)).toDF("number"))
    if (processedThrough(store).exists(_ >= from))
      store.replaceSmall(BalanceHeadTable, Seq(Tuple1(from - 1)).toDF("number"))
  }
}
