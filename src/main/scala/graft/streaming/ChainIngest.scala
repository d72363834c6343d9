package graft.streaming

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.chain._

/** Structured Streaming ingest shell — the Spark shape of the reference's
  * `Listen` loop (service/indexer/indexer.go:122-246):
  *
  *   - source: an unbounded stream of block bundles (block + receipts +
  *     transfer logs — the per-block RPC fetches of indexer.go:443-467 made
  *     columnar). Tests drive a memory/file stream or a queue subscription;
  *     production reads the DSv2 `BundleStreamProvider` source over the
  *     RPC/WebSocket feed.
  *   - admission (T2): a sequential fold with the reference's exact rules —
  *     heads at ≤ the current height are ignored (indexer.go:141-144); a
  *     non-contiguous head is admitted only when its total difficulty beats
  *     the current chain's (TD-only, indexer.go:361-364 — length never
  *     decides);
  *   - reorg (T5): the winning branch is traced parent-by-parent to its
  *     branch point (indexer.go:370-406); [lowest contradicted height, old
  *     tip] retracts from every table as an O(range) ranged-dir delete plus a
  *     reorg audit row (store/reorg/reorg.go:50-54), then the new branch
  *     inserts;
  *   - catch-up (T3): inserts proceed in ≤ `maxBlocksPerChunk` slices
  *     (maxBlocksToInsert = 50, indexer.go:39,218-246);
  *   - state (T4): the head (number, hash, td) persists in a single-row
  *     `head_state` table per batch; on restart it reloads, falling back to
  *     re-derivation from the sink (`loadLocalState`, indexer.go:177-216);
  *   - idempotency (T6): re-delivered heads fall under the ≤-height rule
  *     and skip (duplicate-key tolerance, common/errors.go:48-57);
  *   - TD: per-block td = parent td + difficulty, carried by the fold as
  *     running state (insertTd, indexer.go:249-274) — never recomputed
  *     from history;
  *   - side pool: bundles not admitted this batch (a fork's early blocks
  *     arriving at ≤ head height under the trigger cap, orphans, lighter
  *     branches) persist in a reorgWindow-bounded `side_bundles` table so
  *     a later batch can trace THROUGH them when the fork tip finally
  *     wins — the push-feed equivalent of the reference re-fetching
  *     ancestors by hash during branch tracing (indexer.go:370-406).
  *
  * Scale invariants (the 100 TB lens):
  *   - driver traffic per batch is O(batch + reorgWindow) tiny header rows
  *     — the stored chain is read ONLY in [min(incoming) − reorgWindow,
  *     head], a read of only the dirs in range; payload tables never reach
  *     the driver;
  *   - retraction drops the dirs inside the retracted range and rewrites
  *     only a dir straddling it (TableStore.deleteRange), not the table;
  *   - TD is O(batch) new rows per batch, O(1) state — not a global window
  *     over all history.
  *
  * Reorgs deeper than `reorgWindow` (default 512; mainnet's deepest
  * observed is ~30) are rejected as untraceable rather than mis-applied.
  */
object ChainIngest {

  val HeadersTable   = "block_headers"
  val TxTable        = "transactions"
  val ReceiptsTable  = "transaction_receipts"
  val LogsTable      = "receipt_logs"
  val TdTable        = "total_difficulty"
  val TransfersTable = "transfers"
  val ReorgsTable    = "reorgs"
  val HeadTable      = "head_state"
  val SideTable      = "side_bundles"

  final case class Hdr(number: Long, hash: Seq[Byte], parentHash: Seq[Byte], difficulty: Long)
  final case class Head(number: Long, hash: Seq[Byte], td: BigInt)

  /** What one micro-batch did to the store: `landed` is the height span of
    * blocks accepted this batch (new-branch blocks after a reorg included);
    * `retracted` is the union span of this batch's reorg retractions.
    * Downstream state retraction itself happens through ingestBatch's
    * `onRetract` hook (inside the reorg transaction, crash-safe on
    * replay); the summary is for post-batch concerns that die with the
    * process anyway — cache eviction for landed heights, metrics, tests.
    */
  final case class BatchSummary(
      landed: Option[(Long, Long)],
      retracted: Option[(Long, Long)])

  /** T4: current head from the tiny head_state table; on a fresh restart
    * without one, re-derive from the sink (indexer.go:177-216).
    */
  def loadHead(store: TableStore): Option[Head] =
    if (store.exists(HeadTable)) {
      // driver-cached single-row read: the loop consults the head several
      // times per micro-batch (ingest entry + every composed consumer)
      store.collectSmall(HeadTable).flatMap(_.headOption).map { r =>
        Head(r.getAs[Long]("number"), r.getAs[Array[Byte]]("hash").toSeq,
          BigInt(r.getAs[String]("td")))
      }
    } else if (store.exists(HeadersTable)) {
      store.readOr(HeadersTable, null)
        .orderBy(col("number").desc).limit(1)
        .select("number", "hash").collect().headOption.map { r =>
          val n = r.getLong(0)
          val h = r.getAs[Array[Byte]](1)
          // TdTable may be absent even when headers exist (partial/legacy
          // sink) — seed td=0 rather than NPE on a null relation.
          val td = (if (store.exists(TdTable))
              store.readOr(TdTable, null)
                .filter(col("hash") === lit(h)).select("td").collect().headOption
            else None)
            .map(x => BigInt(x.getDecimal(0).toBigInteger)).getOrElse(BigInt(0))
          Head(n, h.toSeq, td)
        }
    } else None

  /** One micro-batch of the ingest DAG: admission → reorg handling →
    * transform → idempotent append. `bundles` columns: block (struct),
    * receipts (array), transferLogs (array). Returns what the batch did
    * (None when nothing was admitted or retracted) so a composed pipeline
    * can retract and reprocess downstream state.
    */
  def ingestBatch(
      spark: SparkSession,
      store: TableStore,
      bundles: DataFrame,
      tokens: DataFrame,
      maxBlocksPerChunk: Int = 50,
      reorgWindow: Long = 512L,
      onRetract: (Long, Long) => Unit = (_, _) => (),
      fetchBack: Seq[Byte] => Option[Schemas.Bundle] = _ => None): Option[BatchSummary] = {
    // header collect doubles as the emptiness probe — a separate isEmpty
    // was one more job launch per micro-batch on the head-follow path
    val incoming: Array[Hdr] = bundles
      .select(col("block.number"), col("block.hash"), col("block.parentHash"),
        col("block.difficulty"))
      .orderBy("number")
      .collect()
      .map(r => Hdr(r.getLong(0), r.getAs[Array[Byte]](1).toSeq,
        r.getAs[Array[Byte]](2).toSeq, r.getLong(3)))
    if (incoming.isEmpty) return None

    var cur: Option[Head] = loadHead(store)
    // Window anchored to the HEAD, not min(incoming): a single replayed
    // ancient header must not widen the driver read to the whole chain
    val windowLo = cur.map(c => math.max(0L, c.number - reorgWindow)).getOrElse(0L)

    // Bounded canonical-chain window + its TDs — O(reorgWindow) tiny rows,
    // both tables read in ONE union job (the head-follow loop pays this
    // read every micro-batch; two separate collects were two job launches)
    val chainByNumber = mutable.Map[Long, Hdr]()
    val tdByHash      = mutable.Map[Seq[Byte], BigInt]()
    cur.foreach { c =>
      val hdrPart = if (!store.exists(HeadersTable)) None else Some(
        store.readRange(HeadersTable, "number", windowLo, c.number, null)
          .select(lit("h").as("__k"), col("number"), col("hash"),
            col("parent_hash"), col("difficulty"),
            lit(null).cast(Rewards.wei).as("td")))
      val tdPart = if (!store.exists(TdTable)) None else Some(
        store.readRange(TdTable, "block", windowLo, c.number, null)
          .select(lit("t").as("__k"), col("block").as("number"), col("hash"),
            lit(null).cast("binary").as("parent_hash"), lit(0L).as("difficulty"),
            col("td")))
      (hdrPart ++ tdPart).reduceOption(_ unionByName _).foreach(_.collect().foreach { r =>
        if (r.getString(0) == "h") {
          val h = Hdr(r.getLong(1), r.getAs[Array[Byte]](2).toSeq,
            r.getAs[Array[Byte]](3).toSeq, r.getLong(4))
          chainByNumber(h.number) = h
        } else {
          tdByHash(r.getAs[Array[Byte]](2).toSeq) = BigInt(r.getDecimal(5).toBigInteger)
        }
      })
    }

    // Side pool: bundles delivered in EARLIER batches but not admitted. A
    // fork split across triggers by the admission cap arrives at ≤ head
    // height first — those bundles must survive until the fork tip wins or
    // they age out of the reorg window. The reference gets this for free by
    // re-fetching ancestors over RPC during branch tracing
    // (indexer.go:370-406); with a push feed, a stored reorgWindow-bounded
    // pool is the source-complete equivalent. Tiny by construction: only
    // non-canonical in-window headers ever persist.
    val sideDf = if (store.exists(SideTable)) store.readOr(SideTable, null) else null
    val sideHdrs: Array[Hdr] =
      if (sideDf == null) Array.empty
      else sideDf
        .select(col("block.number"), col("block.hash"), col("block.parentHash"),
          col("block.difficulty"))
        .collect()
        .map(r => Hdr(r.getLong(0), r.getAs[Array[Byte]](1).toSeq,
          r.getAs[Array[Byte]](2).toSeq, r.getLong(3)))

    // payload source for admitted blocks: this batch plus the side pool,
    // hash-deduplicated (a replayed head can sit in both)
    val bundlesAll =
      if (sideDf == null) bundles
      else bundles.unionByName(sideDf)
        .withColumn("__h", hex(col("block.hash")))
        .dropDuplicates("__h").drop("__h")

    // Every header visible this batch, keyed by hash — both branches of any
    // fork live here even though only one is canonical at a time
    val byHash = mutable.Map[Seq[Byte], Hdr]()
    chainByNumber.values.foreach(h => byHash(h.hash) = h)
    sideHdrs.foreach(h => byHash(h.hash) = h)
    incoming.foreach(h => byHash(h.hash) = h)

    // Ancestry resolution: batch + pool + stored window first, then the
    // feed's fetch-back — the reference's getBlockByHash walk during
    // branch tracing (indexer.go:370-406). This is what lets a branch
    // whose blocks were CANONICAL once (and retracted by a later reorg)
    // win back: its ancestry is gone from every table, but the feed can
    // still serve it by hash. Fetched bundles join the payload source so
    // their blocks can land.
    val fetched = mutable.ArrayBuffer[Schemas.Bundle]()
    // hashes whose full bundle is available to land (batch, pool, fetched)
    // — as opposed to headers known only from the stored chain window
    val payloadBacked = mutable.Set[Seq[Byte]]()
    sideHdrs.foreach(h => payloadBacked += h.hash)
    incoming.foreach(h => payloadBacked += h.hash)
    // known-missing hashes: one feed lookup per batch for a hash that is
    // not there, not one per descendant candidate (on a real feed each
    // miss is a remote call)
    val fetchMisses = mutable.Set[Seq[Byte]]()
    def resolve(hash: Seq[Byte]): Option[Hdr] =
      byHash.get(hash).orElse {
        // on an EMPTY chain there is nothing to reorg against: clean-start
        // semantics (backfill from wherever the feed begins) — never walk
        // the feed's history down
        if (cur.isEmpty || fetchMisses.contains(hash)) None
        else {
          val got = fetchBack(hash)
            // untrusted-feed guard: a bundle claiming to be `hash` must BE it
            .filter(b => b.block.hash.toSeq == hash)
          if (got.isEmpty) { fetchMisses += hash; None }
          else got.map { b =>
            val h = Hdr(b.block.number, b.block.hash.toSeq, b.block.parentHash.toSeq,
              b.block.difficulty)
            byHash(h.hash) = h
            payloadBacked += h.hash
            fetched += b
            h
          }
        }
      }
    def payloadDf: DataFrame =
      if (fetched.isEmpty) bundlesAll
      else {
        import spark.implicits._
        bundlesAll.unionByName(fetched.toSeq.toDS().toDF())
      }

    val pending = mutable.ArrayBuffer[(Long, Seq[Byte], BigInt)]() // accepted (number, hash, td)
    var landedLo = Long.MaxValue
    var landedHi = Long.MinValue
    var retLo: Option[Long] = None
    var retHi: Option[Long] = None

    def flush(): Unit = {
      if (pending.isEmpty) return
      pending.grouped(maxBlocksPerChunk).foreach { chunk =>
        val hashLits = chunk.map(c => lit(c._2.toArray))
        val slice    = payloadDf.filter(col("block.hash").isin(hashLits.toSeq: _*))
        appendChunk(spark, store, slice, tokens, chunk.toSeq)
      }
      pending.clear()
    }

    def accept(h: Hdr, td: BigInt): Unit = {
      chainByNumber(h.number) = h
      tdByHash(h.hash) = td
      pending += ((h.number, h.hash, td))
      landedLo = math.min(landedLo, h.number)
      landedHi = math.max(landedHi, h.number)
      cur = Some(Head(h.number, h.hash, td))
    }

    /** TD of a candidate head: walk ancestry accumulating difficulty until a
      * hash with known TD (insertTd's parent lookup, indexer.go:249-264).
      * None = unconnected orphan. An empty chain seeds prevTd = 0 (the
      * reference's genesis/backfill start, indexer.go:255-258).
      */
    // A legitimate ancestry walk spans at most the batch + pool + reorg
    // window; the hard step bound also terminates walks over a hostile
    // feed whose "parents" never descend (cycles, self-parents)
    val walkBudget = incoming.length + sideHdrs.length + reorgWindow + 2

    def tdOf(h: Hdr): Option[BigInt] = {
      var acc   = BigInt(h.difficulty)
      var b     = h
      var steps = walkBudget
      while (steps > 0) {
        steps -= 1
        // walked below the window floor without connecting: out of reorg
        // policy — bounds how deep fetch-back descends
        if (cur.isDefined && b.number < windowLo) return None
        tdByHash.get(b.parentHash) match {
          case Some(ptd) => return Some(ptd + acc)
          case None =>
            resolve(b.parentHash) match {
              case Some(p) => acc += p.difficulty; b = p
              case None    => return if (cur.isEmpty || b.number == 0) Some(acc) else None
            }
        }
      }
      None // walk budget exhausted: treat as unconnected
    }

    incoming.foreach { h =>
      cur match {
        // T2/T6: "Ignore old header" — at or below current height
        case Some(c) if c.number >= h.number => ()
        // fast path: direct child of the current head (indexer.go:352-356)
        case Some(c) if h.number == c.number + 1 && h.parentHash == c.hash =>
          accept(h, c.td + h.difficulty)
        case _ =>
          tdOf(h) match {
            case None => () // orphan: no traceable ancestry
            case Some(td) if cur.exists(_.td >= td) => () // TD-only rule
            case Some(td) =>
              // Branch trace: walk parents to the branch point, recording the
              // lowest contradicted canonical height (indexer.go:370-406)
              val branch             = mutable.ArrayBuffer[Hdr](h)
              var reorgFrom: Option[Long] = None
              var traceable          = true
              var done               = false
              var b                  = h
              var traceSteps = walkBudget
              while (!done && traceable && traceSteps > 0) {
                traceSteps -= 1
                val pn = b.number - 1
                chainByNumber.get(pn) match {
                  case Some(st) if st.hash == b.parentHash => done = true
                  case Some(_) =>
                    reorgFrom = Some(pn)
                    resolve(b.parentHash) match {
                      case Some(p) => branch.prepend(p); b = p
                      case None    => traceable = false
                    }
                  case None if cur.isDefined && pn >= 0 && pn < windowLo =>
                    // branch point deeper than reorgWindow below the head:
                    // out of policy — reject rather than insert a second
                    // chain without retracting the first
                    traceable = false
                  case None =>
                    resolve(b.parentHash) match {
                      case Some(p) => branch.prepend(p); b = p
                      case None    => done = true // clean start below stored window
                    }
                }
              }
              if (traceSteps <= 0) traceable = false // budget out: untraced, not half-traced
              if (traceable && done) {
                reorgFrom.foreach { rf =>
                  // this batch's earlier accepts may fall in the retracted
                  // range — land them first so the delete covers both
                  flush()
                  val c = cur.get
                  retract(spark, store, rf, c.number, chainByNumber, onRetract)
                  retLo = Some(retLo.fold(rf)(math.min(_, rf)))
                  retHi = Some(retHi.fold(c.number)(math.max(_, c.number)))
                  (rf to c.number).foreach { n =>
                    // retracted headers WITHOUT a landable bundle (known
                    // only from the stored window, now deleted) leave
                    // byHash so a later trace goes through fetch-back for
                    // them instead of landing a payload-less phantom;
                    // payload-backed ones stay reachable. TD entries stay
                    // — a block's TD is intrinsic, valid either way.
                    chainByNumber.get(n).foreach { h =>
                      if (!payloadBacked.contains(h.hash)) byHash.remove(h.hash)
                    }
                    chainByNumber.remove(n)
                  }
                }
                var ptd = td - branch.map(x => BigInt(x.difficulty)).sum
                branch.foreach { nb => ptd += nb.difficulty; accept(nb, ptd) }
              }
          }
      }
    }

    flush()

    // Refresh the side pool: headers seen (old pool + this batch) that are
    // not canonical NOW stay, pruned to the reorg window below the new
    // head. "Not canonical now" (the chainByNumber hash check) rather than
    // "not accepted this batch": a block accepted early in the batch and
    // then retracted by a same-batch reorg must remain poolable — its
    // branch can still win back later. Empty-to-empty skips the write —
    // the hot path (every head admitted) never touches the table.
    val finalLo = cur.map(c => math.max(0L, c.number - reorgWindow)).getOrElse(0L)
    val fetchedHdrs = fetched.map(b =>
      Hdr(b.block.number, b.block.hash.toSeq, b.block.parentHash.toSeq, b.block.difficulty))
    val poolable = (sideHdrs.iterator ++ incoming.iterator ++ fetchedHdrs.iterator)
      .filter(h => h.number >= finalLo &&
        !chainByNumber.get(h.number).exists(_.hash == h.hash))
      .toSeq.distinctBy(_.hash)
    // entry cap: the height window alone does not bound the pool — a
    // hostile or orphan-heavy feed pushing in-window non-canonical heads
    // while the canonical tip stalls would grow it (and the O(pool) driver
    // header read above) without limit. Four competing branches across the
    // whole window is already pathological; beyond that, evict
    // lowest-height first (the entries least likely to seed a winning
    // branch, and the first the window would age out anyway).
    val maxPoolEntries = (4L * reorgWindow).toInt
    val capped =
      if (poolable.length <= maxPoolEntries) poolable
      else {
        System.err.println(s"side pool over cap: dropping " +
          s"${poolable.length - maxPoolEntries} lowest-height of ${poolable.length}")
        poolable.sortBy(-_.number).take(maxPoolEntries)
      }
    val keep = capped.map(_.hash).toSet
    if (keep.nonEmpty) {
      val keepLits = keep.toSeq.map(h => lit(h.toArray))
      store.replace(SideTable, payloadDf.filter(col("block.hash").isin(keepLits: _*)))
    } else if (sideDf != null) {
      store.drop(SideTable) // drained: absent table keeps the hot path free
    }

    // T4: persist the head for the next batch / restart
    cur.foreach { c =>
      import spark.implicits._
      // replaceSmall: driver-local rows prime the row cache, so the next
      // batch's head read costs no Spark job
      store.replaceSmall(HeadTable,
        Seq((c.number, c.hash.toArray, c.td.toString)).toDF("number", "hash", "td"))
    }

    val landed = if (landedLo <= landedHi) Some((landedLo, landedHi)) else None
    val retracted = for (lo <- retLo; hi <- retHi) yield (lo, hi)
    if (landed.isEmpty && retracted.isEmpty) None
    else Some(BatchSummary(landed, retracted))
  }

  /** Retraction (T5/S12): delete [from, to] from every derived table as an
    * O(range) ranged-dir delete (store/store.go:175-212,319-378), plus the
    * audit row (store/reorg/reorg.go:50-54) carrying the OLD chain's
    * hashes at the range ends.
    *
    * `onRetract` is the downstream-state hook (balance tables, serving
    * caches — the other tables of the reference's single reorg
    * transaction, store/store.go:319-378). It runs BEFORE the chain
    * deletes on purpose: a crash at any point then converges on the
    * checkpoint replay of the batch — before the hook, the chain is
    * intact and the reorg re-detects from scratch; after it, downstream
    * state is already retracted and the re-detected (or already-applied)
    * chain retraction is idempotent. Running it after the deletes would
    * leave a window where the replayed batch sees no height contradiction
    * (the contradicting rows are gone), skips the reorg path, and the
    * stale downstream rows never heal.
    */
  def retract(
      spark: SparkSession,
      store: TableStore,
      from: Long,
      to: Long,
      oldChain: collection.Map[Long, Hdr],
      onRetract: (Long, Long) => Unit = (_, _) => ()): Unit = {
    import spark.implicits._
    for (f <- oldChain.get(from); t <- oldChain.get(to)) {
      // replay-idempotent audit: a crash after this append replays the
      // batch and re-detects the same reorg — the identical row must not
      // double-count (reorgs are rare; the existence probe is tiny)
      val dup = Option(store.readOr(ReorgsTable, null)).exists(
        _.filter(col("from") === from && col("to") === to &&
          col("from_hash") === lit(f.hash.toArray) &&
          col("to_hash") === lit(t.hash.toArray)).limit(1).collect().nonEmpty)
      if (!dup) store.append(ReorgsTable,
        Seq((from, f.hash.toArray, to, t.hash.toArray))
          .toDF("from", "from_hash", "to", "to_hash"))
    }
    onRetract(from, to)
    store.deleteRangeAll(
      (HeadersTable -> "number") +:
      Seq(TxTable, ReceiptsTable, LogsTable, TransfersTable).map(_ -> "block_number") :+
      (TdTable -> "block"), from, to)
  }

  /** Transform one admitted chunk and append to all sinks (stage 6 of the
    * reference lifecycle, store/store.go:215-316). TD rows carry the
    * fold-computed running values — no history recompute.
    *
    * S10 idempotency: the chunk's height span is deleted before appending,
    * so a checkpoint REPLAY of a batch that crashed between chunk flush and
    * head_state update rewrites the same rows instead of duplicating them —
    * the parquet-store equivalent of the reference's per-chunk transaction
    * with duplicate-key tolerance (store/store.go:129-147,
    * common/errors.go:48-57). On the happy path the deletes are decided
    * from the manifests' dir bounds and cost no Spark job; every append
    * declares the same [lo, hi] as its dir's bounds.
    */
  private def appendChunk(
      spark: SparkSession,
      store: TableStore,
      slice: DataFrame,
      tokens: DataFrame,
      tds: Seq[(Long, Seq[Byte], BigInt)]): Unit = {
    import spark.implicits._
    val lo = tds.map(_._1).min
    val hi = tds.map(_._1).max
    // only the per-table delete-before-append order matters; on the happy
    // path every dir is disjoint from [lo, hi], so the sweep runs no job
    store.deleteRangeAll(
      (HeadersTable -> "number") +:
      Seq(TxTable, ReceiptsTable, LogsTable, TransfersTable).map(_ -> "block_number") :+
      (TdTable -> "block"), lo, hi)

    val blocks       = slice.select("block.*")
    val receipts     = slice.select(explode(col("receipts")).as("r")).select("r.*")
    val transferLogs = slice.select(explode(col("transferLogs")).as("t")).select("t.*")

    val logs    = Transforms.receiptLogs(receipts)
    val eth     = Transforms.ethTransfers(transferLogs)
    val erc20   = Transforms.erc20Transfers(logs, tokens)
    val rewards = Transforms.rewardTransfers(blocks)
    val tdDf = tds.map { case (n, h, td) => (n, h.toArray, td.toString) }
      .toDF("block", "hash", "td")
      .select(col("block"), col("hash"), col("td").cast(Rewards.wei).as("td"))

    Par.run(Seq(
      () => store.appendRange(HeadersTable, Transforms.blockHeaders(blocks), "number", lo, hi),
      () => store.appendRange(TxTable, Transforms.transactions(blocks), "block_number", lo, hi),
      () => store.appendRange(ReceiptsTable, Transforms.transactionReceipts(receipts),
        "block_number", lo, hi),
      () => store.appendRange(LogsTable, logs, "block_number", lo, hi),
      () => store.appendRange(TransfersTable, Transforms.allTransfers(eth, erc20, rewards),
        "block_number", lo, hi),
      () => store.appendRange(TdTable, tdDf, "block", lo, hi)))
  }

  /** Wire the ingest DAG as a streaming query over a bundle stream.
    * `fetchBack` is typically the feed's `HeadSubscription.byHash`.
    */
  def start(
      bundles: Dataset[_],
      store: TableStore,
      tokens: DataFrame,
      checkpoint: String,
      fetchBack: Seq[Byte] => Option[Schemas.Bundle] = _ => None): StreamingQuery =
    bundles.toDF().writeStream
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch.sparkSession, store, batch, tokens,
          fetchBack = fetchBack): Unit
      }
      .start()

  /** T7 — resubscribe/retry: the reference's Listen loop returns on a
    * subscription error and re-enters after `retrySubscribeTime` (5s,
    * indexer.go:49,167-171). Here a failed streaming query is re-created
    * after a backoff; source offsets replay from the checkpoint and the
    * admission fold makes re-delivery a no-op (T6), so a crash mid-batch
    * cannot double-insert.
    */
  def runWithRestart(
      mkQuery: () => StreamingQuery,
      maxRestarts: Int = 5,
      backoffMs: Long = 5000L): Unit = {
    var restarts = 0
    var done     = false
    while (!done) {
      val q = mkQuery()
      try { q.awaitTermination(); done = true }
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          restarts += 1
          if (restarts > maxRestarts) throw e
          Thread.sleep(backoffMs)
      }
    }
  }
}
