package graft.chain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.chain.Schemas.Sentinels
import graft.operators.Relational

/** The reference's dataflow core — `transferProcessor.process`
  * (store/transfer_processor.go:85-418) — re-expressed as a relational DAG.
  * The Go version walks maps address-by-address; here every step is a
  * declarative join/aggregation, so the same semantics hold whether the
  * block touches 10 accounts or 10 million:
  *
  *   1. changed addresses  = event parties ∪ tx senders, deduped (:92-119)
  *   2. new subscriptions  ≤ `newSubLimit` per block (:120-146, T8)
  *   3. events ⋉ subs on (from OR to) — the inserted transfer rows (:164-219)
  *   4. fee rollup per subscribed sender (:224-249)
  *   5. miner/uncle reward diffs from sentinel rows (:169-219; set-once
  *      miner vs summed uncle holds because a block has ≤1 miner row per
  *      coinbase and ≤2 uncle rows)
  *   6. balance snapshots at N for subscribed∩changed addrs (resolver)
  *   7. per-(group, token) totals: previous totals carried forward, plus
  *      balance deltas (old subs: new − latest-recorded; new subs: seed
  *      balance), tx fees, miner/uncle rewards (:322-416)
  *
  * Scale notes: the subscription set broadcasts (it is the small
  * dimension) — by the PLANNER's size estimate or AQE's runtime
  * conversion, never an explicit broadcast() hint: a hint would force a
  * per-exchange broadcast JOB even inside the single-block ingest bracket,
  * where job launches (not data) dominate a single-digit-row batch.
  * Transfers/accounts shuffle once on
  * address; totals aggregate with map-side combine on (group, token).
  */
object BalancePipeline {
  import Rewards.wei

  private val zeroWei = lit(new java.math.BigDecimal(0)).cast(wei)

  /** Inputs for one block's processing (the reference processes blocks
    * one at a time inside its ≤50-block transaction — store/store.go:129-147).
    *
    * @param transfers  unified transfer rows for block N (token, tx_hash,
    *                   from, to, value, block_number) incl. sentinel reward rows
    * @param txs        transactions of block N
    * @param receipts   transaction_receipts of block N
    * @param subs       full subscriptions table (id, block_number, group, address)
    * @param accounts   balance snapshots so far (token, address, block_number, balance)
    * @param resolver   balances at block N per (token, address) — fixture
    *                   table in tests, RPC mapPartitions in live mode (S6-S8)
    * @param prevTotals total_balances rows for blocks < N
    */
  final case class Inputs(
      blockNumber: Long,
      transfers: DataFrame,
      txs: DataFrame,
      receipts: DataFrame,
      subs: DataFrame,
      accounts: DataFrame,
      resolver: DataFrame,
      prevTotals: DataFrame)

  final case class Outputs(
      matchedTransfers: DataFrame,
      newAccounts: DataFrame,
      totalBalances: DataFrame,
      updatedSubs: DataFrame)

  /** New subscriptions admitted this block, capped (T8 —
    * newSubscriptionLimit = 990, transfer_processor.go:36-39,120-130).
    */
  def admittedNewSubs(subs: DataFrame, limit: Int = 990): DataFrame =
    subs.filter(col("block_number") === 0L).orderBy("id").limit(limit)

  /** Active = previously flipped + admitted-new (:149-166, U3). */
  def activeSubs(subs: DataFrame, newSubLimit: Int = 990): DataFrame =
    subs.filter(col("block_number") > 0L)
      .unionByName(admittedNewSubs(subs, newSubLimit))

  /** Changed addresses: transfer parties ∪ tx senders, deduped (U2/J8). */
  def changedAddresses(transfers: DataFrame, txs: DataFrame): DataFrame =
    transfers.select(col("from").as("address"))
      .unionByName(transfers.select(col("to").as("address")))
      .unionByName(txs.select(col("from").as("address")))
      .filter(col("address").isNotNull)
      .filter(col("address") =!= lit(Sentinels.MinerReward) &&
        col("address") =!= lit(Sentinels.UncleReward))
      .dropDuplicates("address")

  /** J2: transfer rows touching a subscribed address (either side). */
  def matchedTransfers(transfers: DataFrame, active: DataFrame): DataFrame =
    Relational.semiJoinAny(transfers, active.select("address"),
      Seq("from", "to"), "address")

  /** A5: tx fees per subscribed sender: Σ gasPrice·gasUsed
    * (store/store.go:222-238 + transfer_processor.go:224-249).
    */
  def feesBySender(txs: DataFrame, receipts: DataFrame, active: DataFrame): DataFrame =
    txs.join(receipts.select(col("tx_hash"), col("gas_used")),
        txs("hash") === col("tx_hash"))
      .join(active.select("address").distinct(),
        txs("from") === col("address"), "left_semi")
      .groupBy(col("from").as("fee_payer"))
      // Cast EACH operand to wei BEFORE multiplying: LongType×LongType wraps
      // silently past 2^63−1 (500 gwei × 30M gas = 1.5e19 > 9.2e18).
      .agg(sum(col("gas_price").cast(wei) * col("gas_used").cast(wei)).cast(wei).as("tx_fee"))
      .withColumnRenamed("fee_payer", "address")

  /** A9: miner/uncle reward diffs for subscribed coinbases, from the
    * sentinel transfer rows (model/types.go:215-224 predicates).
    */
  def rewardDiffs(transfers: DataFrame, active: DataFrame): DataFrame =
    transfers
      .filter(col("from") === lit(Sentinels.MinerReward) ||
        col("from") === lit(Sentinels.UncleReward))
      .join(active.select("address").distinct(),
        col("to") === col("address"), "left_semi")
      .groupBy(col("to").as("address"))
      .agg(
        coalesce(sum(when(col("from") === lit(Sentinels.MinerReward), col("value"))), zeroWei)
          .cast(wei).as("miner_reward"),
        coalesce(sum(when(col("from") === lit(Sentinels.UncleReward), col("value"))), zeroWei)
          .cast(wei).as("uncles_reward"))

  /** Snapshot + delta step (J6, :259-313): for every subscribed address
    * whose balance may have moved (changed ∪ fee payer ∪ reward recipient ∪
    * new sub), take the resolver balance at N as the new snapshot and diff
    * it against the latest recorded snapshot. New subscriptions have no
    * previous snapshot — their delta is the full seed balance.
    */
  def balanceSnapshots(
      blockNumber: Long,
      changed: DataFrame,
      active: DataFrame,
      accounts: DataFrame,
      resolver: DataFrame,
      accountsAreLatest: Boolean = false): DataFrame = {
    val touched = active
      .join(changed, Seq("address"), "left_semi")
      .unionByName(active.filter(col("block_number") === 0L))
      .dropDuplicates("address")
      .select(col("address"), col("group"), (col("block_number") === 0L).as("is_new"))
    // With compact one-row-per-key state (BalanceLedger) the window is
    // skipped entirely — per-block cost O(touched), not O(history)
    val prevRows = accounts.filter(col("block_number") < blockNumber)
    val latestPrev = (if (accountsAreLatest) prevRows
      else Relational.latestPerKey(prevRows, Seq("token", "address"), Seq(col("block_number"))))
      .select(col("token"), col("address"), col("balance").as("prev_balance"))
    resolver
      .join(touched, Seq("address"))
      .join(latestPrev, Seq("token", "address"), "left_outer")
      .select(
        col("token"),
        col("address"),
        lit(blockNumber).as("block_number"),
        col("balance").cast(wei).as("balance"),
        col("group"),
        col("is_new"),
        when(col("is_new"), col("balance").cast(wei))
          .otherwise(col("balance").cast(wei) - coalesce(col("prev_balance").cast(wei), zeroWei))
          .cast(wei).as("delta"))
  }

  /** A8/W3 (:322-416): per-(group, token) running totals. Previous totals
    * carry forward (latest row < N per group/token, zero when absent);
    * balance deltas, fees, and rewards fold in. ETH-only components (fees,
    * rewards) attach to the ETH pseudo-token row.
    */
  def totalBalances(
      blockNumber: Long,
      snapshots: DataFrame,
      fees: DataFrame,
      rewards: DataFrame,
      active: DataFrame,
      prevTotals: DataFrame,
      totalsAreLatest: Boolean = false): DataFrame = {
    val deltas = snapshots.groupBy("group", "token")
      .agg(sum(col("delta")).cast(wei).as("delta"))
    val subGroups = active.select("address", "group").dropDuplicates("address")
    val feeByGroup = fees.join(subGroups, Seq("address"))
      .groupBy("group").agg(sum(col("tx_fee")).cast(wei).as("tx_fee"))
      .withColumn("token", lit(Sentinels.EthToken))
    val rewardByGroup = rewards.join(subGroups, Seq("address"))
      .groupBy("group")
      .agg(sum(col("miner_reward")).cast(wei).as("miner_reward"),
        sum(col("uncles_reward")).cast(wei).as("uncles_reward"))
      .withColumn("token", lit(Sentinels.EthToken))
    val prevRows = prevTotals.filter(col("block_number") < blockNumber)
    val prev = (if (totalsAreLatest) prevRows
      else Relational.latestPerKey(prevRows, Seq("group", "token"), Seq(col("block_number"))))
      .select(col("group"), col("token"), col("balance").as("prev_balance"))
    deltas
      .join(feeByGroup, Seq("group", "token"), "full_outer")
      .join(rewardByGroup, Seq("group", "token"), "full_outer")
      .join(prev, Seq("group", "token"), "left_outer")
      .select(
        lit(blockNumber).as("block_number"),
        col("token"),
        col("group"),
        (coalesce(col("prev_balance"), zeroWei) + coalesce(col("delta"), zeroWei))
          .cast(wei).as("balance"),
        coalesce(col("tx_fee"), zeroWei).cast(wei).as("tx_fee"),
        coalesce(col("miner_reward"), zeroWei).cast(wei).as("miner_reward"),
        coalesce(col("uncles_reward"), zeroWei).cast(wei).as("uncles_reward"))
  }

  /** Full per-block process (the §3.1 stage-6f DAG).
    *
    * `compactInputs = true` declares `in.accounts` / `in.prevTotals` are
    * already one row per key (maintained by BalanceLedger) — the
    * latest-per-key windows are skipped, so the per-block step costs
    * O(touched keys) instead of re-windowing all history every block.
    */
  def process(in: Inputs, newSubLimit: Int = 990, compactInputs: Boolean = false): Outputs = {
    val active   = activeSubs(in.subs, newSubLimit).cache()
    val changed  = changedAddresses(in.transfers, in.txs)
    val matched  = matchedTransfers(in.transfers, active)
    val fees     = feesBySender(in.txs, in.receipts, active)
    val rewards  = rewardDiffs(in.transfers, active)
    val snaps    = balanceSnapshots(in.blockNumber, changed, active, in.accounts, in.resolver,
      accountsAreLatest = compactInputs)
    val totals   = totalBalances(in.blockNumber, snaps, fees, rewards, active, in.prevTotals,
      totalsAreLatest = compactInputs)
    // flip admitted new subs to active at N (BatchUpdateBlockNumber :315-320)
    val updated = admittedNewSubs(in.subs, newSubLimit)
      .withColumn("block_number", lit(in.blockNumber))
    Outputs(
      matchedTransfers = matched,
      newAccounts = snaps.select("token", "address", "block_number", "balance", "group"),
      totalBalances = totals,
      updatedSubs = updated)
  }
}
