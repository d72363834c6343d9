package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, min}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.chain._

/** The reference's complete `Listen` entry point as ONE checkpointed
  * Structured Streaming query (service/indexer/indexer.go:122-246 composed
  * with store/store.go:215-378): the DSv2 bundle source feeds chain ingest
  * (admission, catch-up chunking, reorg retraction), and each landed block
  * then flows through the balance pipeline (snapshots, fees, totals,
  * subscription flips, token seeding) against compact persisted state.
  *
  * Composition contract per micro-batch:
  *   1. `ChainIngest.ingestBatch` lands/retracts chain tables and reports a
  *      `BatchSummary`;
  *   2. a reorg retraction propagates to the balance tables INSIDE the
  *      chain retraction (the `onRetract` hook, before the chain deletes)
  *      — subs admitted in-range reset to pending and the compact ledger
  *      rebuilds (the reference deletes accounts / subscriptions / erc20
  *      state in the same reorg transaction, store/store.go:319-378), and
  *      a crash anywhere in the window converges on the batch replay;
  *   3. the balance pipeline runs [watermark+1, chain head] — driven by the
  *      persisted `balance_head` watermark, NOT by what this batch landed,
  *      so a checkpoint replay of an already-ingested batch (which admits
  *      nothing) still completes any balance work the crash interrupted;
  *   4. the ERC20 registry is re-read from the store each batch: tokens
  *      registered mid-stream start decoding transfers from their admission
  *      block (SubscribeErc20Tokens composed with Listen).
  *
  * Scale shape: identical to the parts — per batch, driver traffic is
  * O(batch + reorgWindow) header rows; balance reads are partition-pruned
  * single-block slices; state tables are O(keys) and swap atomically.
  */
object FullIngest {

  /** The chain and balance range tables, with their range column — the
    * set the JDBC mirror tracks and whose file counts the metrics export;
    * the same set the reference writes to MySQL inside the per-block
    * transaction (store/store.go:215-316 for the chain tables, the
    * transfer processor's inserts for the balance tables).
    */
  private[graft] val RangeTables: Seq[(String, String)] = Seq(
    ChainIngest.HeadersTable   -> "number",
    ChainIngest.TxTable        -> "block_number",
    ChainIngest.ReceiptsTable  -> "block_number",
    ChainIngest.LogsTable      -> "block_number",
    ChainIngest.TransfersTable -> "block_number",
    ChainIngest.TdTable        -> "block",
    BalanceIngest.AccountsTable -> "block_number",
    BalanceIngest.TotalsTable   -> "block_number",
    BalanceIngest.MatchedTable  -> "block_number")

  private val MirrorHeadTable = "mirror_head"

  /** Highest block the mirror reflects — its own replay watermark: a crash
    * between the store commit and the mirror write replays the span into
    * the idempotent [[JdbcMirror.appendRange]] (the reference gets the
    * same convergence from duplicate-key tolerance on its replayed chunk,
    * common/errors.go:48-57).
    */
  private def mirrorThrough(db: JdbcMirror): Long =
    if (db.exists(MirrorHeadTable))
      db.read(MirrorHeadTable).collect().headOption.map(_.getLong(0)).getOrElse(-1L)
    else -1L

  private def advanceMirror(spark: SparkSession, db: JdbcMirror, n: Long): Unit = {
    import spark.implicits._
    db.appendRange(MirrorHeadTable, Seq(Tuple1(n)).toDF("number"),
      "number", Long.MinValue, Long.MaxValue) // single-row replace
  }

  /** Mirror every tracked table's [from, to] slice, then advance the
    * mirror watermark — run AFTER the balance pipeline so one pass carries
    * chain and balance rows alike.
    */
  private def mirrorRange(spark: SparkSession, store: TableStore,
                          db: JdbcMirror, from: Long, to: Long): Unit = {
    RangeTables.foreach { case (t, rangeCol) =>
      if (store.exists(t))
        db.appendRange(t, store.readRange(t, rangeCol, from, to, null), rangeCol, from, to)
    }
    advanceMirror(spark, db, to)
  }

  private def registryTokens(spark: SparkSession, store: TableStore): DataFrame = {
    val reg = store.readOr(BalanceIngest.RegistryTable, null)
    if (reg != null) reg.select("address", "block_number")
    else {
      import spark.implicits._
      Seq.empty[(Array[Byte], Long)].toDF("address", "block_number")
    }
  }

  /** One micro-batch of the full lifecycle; see the composition contract.
    * A serving-path [[CachedChainStore]] passed as `cache` is invalidated
    * over the batch's landed+retracted span — retraction rewrites cached
    * blocks, and a newly-landed height turns a cached negative lookup
    * stale (the reference's indexer evicts its ARC caches the same way on
    * both the write and the rewind path, store/block_header/cache.go).
    * The batch sets no SQL conf: it runs under `spark`'s conf as built.
    */
  def processBatch(
      spark: SparkSession,
      store: TableStore,
      batch: DataFrame,
      client: BalanceClient,
      maxBlocksPerChunk: Int = 50,
      reorgWindow: Long = 512L,
      newSubLimit: Int = 990,
      cache: Option[CachedChainStore] = None,
      fetchBack: Seq[Byte] => Option[Schemas.Bundle] = _ => None,
      metrics: Option[IngestMetrics] = None,
      mirror: Option[JdbcMirror] = None): Unit = {
    val t0 = System.nanoTime()
    // Downstream retraction runs as ChainIngest's onRetract hook — INSIDE
    // the reorg transaction, before the chain deletes — not after the
    // batch: a crash anywhere then converges on the checkpoint replay
    // (see ChainIngest.retract). Propagating from the returned summary
    // instead would lose the retraction when the crash lands between
    // head-state persist and the propagation.
    val summary = ChainIngest.ingestBatch(spark, store, batch,
      registryTokens(spark, store), maxBlocksPerChunk, reorgWindow,
      onRetract = (lo, hi) => {
        metrics.foreach { m =>
          m.reorg.incrementAndGet()
          m.retractedBlocks.addAndGet(hi - lo + 1)
        }
        BalanceIngest.retract(spark, store, lo, hi)
        cache.foreach(_.invalidateRange(lo, hi))
        // the mirror retracts INSIDE the same reorg bracket — the
        // reference's single-transaction DELETEs (store/store.go:319-378);
        // the lowered mirror watermark makes the winning branch re-mirror
        mirror.foreach { db =>
          RangeTables.foreach { case (t, rangeCol) =>
            if (db.exists(t)) db.deleteRange(t, rangeCol, lo, hi)
          }
          if (mirrorThrough(db) >= lo) advanceMirror(spark, db, lo - 1)
        }
      },
      fetchBack = fetchBack)

    // landed blocks invalidate too: a cached negative lookup for a height
    // that just materialized must not keep serving "absent"
    for (s <- summary; c <- cache; (lo, hi) <- s.landed)
      c.invalidateRange(lo, hi)
    for (s <- summary; m <- metrics; (lo, hi) <- s.landed)
      m.newBlock.addAndGet(hi - lo + 1) // indexer.go:146

    ChainIngest.loadHead(store).foreach { head =>
      val from = BalanceIngest.processedThrough(store) match {
        case Some(w) => w + 1L
        case None =>
          // fresh ledger: start at the chain's FIRST landed block — a
          // mid-chain backfill (clean start at height H) must not iterate
          // millions of absent genesis-side heights one no-op at a time.
          // A crash can leave head_state present while the headers table
          // is EMPTY (retraction landed, new branch did not): min() is
          // null then — skip the range rather than NPE the replay loop
          val hdrs = store.readOr(ChainIngest.HeadersTable, null)
          val minRow = if (hdrs == null) null else hdrs.agg(min(col("number"))).head()
          if (minRow == null || minRow.isNullAt(0)) head.number + 1L
          else minRow.getLong(0)
      }
      if (head.number >= from)
        BalanceIngest.processRange(spark, store, from, head.number, client,
          newSubLimit, metrics)

      // mirror the un-mirrored tail [mirror watermark + 1, head] — chain
      // and balance rows in one pass, AFTER the balance pipeline so the
      // span's balance rows exist. Crash-safe by the mirror's own
      // watermark + idempotent delete-then-append per table.
      for (db <- mirror) {
        val mFrom = mirrorThrough(db) + 1L
        if (head.number >= mFrom) mirrorRange(spark, store, db, mFrom, head.number)
      }
    }
    // the insert_block latency bracket (indexer.go:147,164-165) closes
    // after the balance pipeline: this batch's full lifecycle cost
    metrics.foreach { m =>
      m.insertBlock.observe((System.nanoTime() - t0) / 1e9)
      RangeTables.foreach { case (t, _) => m.tableFiles.put(t, store.fileCounts(t).values.sum) }
      // stderr, not stdout: the mains that drive ingest print their JSON
      // result on stdout, and a line per batch would bury it
      Console.err.println(m.logLine)
    }
  }

  /** Wire the full lifecycle as a streaming query over a bundle stream
    * (typically the DSv2 `BundleStreamProvider` source). Offsets replay
    * from the checkpoint; admission (T2/T6) plus the balance watermark make
    * re-delivery idempotent end-to-end.
    */
  def start(
      bundles: Dataset[_],
      store: TableStore,
      client: BalanceClient,
      checkpoint: String,
      maxBlocksPerChunk: Int = 50,
      reorgWindow: Long = 512L,
      newSubLimit: Int = 990,
      cache: Option[CachedChainStore] = None,
      fetchBack: Seq[Byte] => Option[Schemas.Bundle] = _ => None,
      metrics: Option[IngestMetrics] = None,
      mirror: Option[JdbcMirror] = None): StreamingQuery =
    bundles.toDF().writeStream
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch.sparkSession, store, batch, client,
          maxBlocksPerChunk, reorgWindow, newSubLimit, cache, fetchBack,
          metrics, mirror)
      }
      .start()
}
