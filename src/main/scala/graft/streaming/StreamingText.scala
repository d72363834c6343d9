package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.TextOps

/** Streaming faces of the training-data text operators: a 100 TB corpus
  * usually ARRIVES as a stream (crawl batches, upload feeds), so dedup and
  * quality accounting must hold across micro-batches, not just within one
  * DataFrame.
  */
object StreamingText {

  final case class Doc(doc_id: Long, text: String)
  final case class KeyedDoc(fp: String, doc_id: Long, text: String)

  /** Cross-batch exact dedup: the first document per content fingerprint
    * survives, every later arrival (same or later micro-batch) is dropped.
    * State is one boolean per fingerprint via mapGroupsWithState — the
    * canonical KeyValueGroupedDataset stateful pattern; state volume is
    * O(distinct fingerprints), partitioned by fingerprint hash.
    */
  def dedupStream(docs: Dataset[Doc]): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .as[KeyedDoc]
      .groupByKey(_.fp)
      .flatMapGroupsWithState[Boolean, Doc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[KeyedDoc], state: GroupState[Boolean]) =>
          if (state.exists) {
            Iterator.empty // fingerprint already emitted in a prior batch
          } else {
            state.update(true)
            // within one batch, keep the lowest doc_id (deterministic)
            val first = rows.minBy(_.doc_id)
            Iterator.single(Doc(first.doc_id, first.text))
          }
      }
  }

  final case class PackedDoc(shard: String, doc_id: Long, n_tokens: Long, bin: Long)

  /** JVM-side token count, bit-consistent with the column `TextOps.tokens`
    * (trim + split on runs of whitespace; an empty string still counts 1,
    * matching Spark's and DuckDB's split semantics).
    */
  private[graft] def tokenCountLocal(s: String): Long =
    s.trim.split("\\s+").length.toLong

  /** Online sequence packing: the streaming face of
    * Curation.sequencePacking — documents arrive over micro-batches and
    * are cut into fixed token-budget bins whose numbering CONTINUES across
    * batches. State is one running token total per shard (a source/worker
    * key so packing parallelizes; bins are per-shard sequences, exactly
    * how a multi-worker pretraining loader shards its stream). Within a
    * batch, docs pack in doc_id order, so a replayed batch re-derives the
    * identical bins.
    */
  def packedStream(docs: Dataset[Doc], shardOf: Doc => String,
                   budget: Long): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    require(budget > 0, "budget must be positive")
    docs
      .groupByKey(shardOf)
      .flatMapGroupsWithState[Long, PackedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (shard: String, rows: Iterator[Doc], state: GroupState[Long]) =>
          var start = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).map { d =>
            val n = tokenCountLocal(d.text)
            val packed = PackedDoc(shard, d.doc_id, n, start / budget)
            start += n
            packed
          }
          state.update(start)
          out.iterator
      }
  }

  /** Cross-batch CHUNK-level dedup — the streaming face of
    * Dedup.chunkDedup. A single flatMapGroupsWithState stage cannot
    * express it: the duplicate decision keys by CHUNK HASH while the
    * output re-aggregates by DOC, and append mode cannot chain a stateful
    * stage into a keyed aggregation without a synthetic watermark. So
    * this uses the ChainIngest architecture instead: foreachBatch + a
    * persistent hash state table, idempotent under batch replay.
    *
    * Per micro-batch `bid`:
    *   1. chunk + hash the batch docs (Dedup.chunkHashes);
    *   2. a chunk is a DUPLICATE if its hash appears in the state table
    *      from an EARLIER batch (left-semi probe; the batch side is
    *      small) or earlier in THIS batch (the d9 min(struct) rule);
    *   3. per-doc counts land in `chunk_dedup` by delete-then-append on
    *      the batch id (replays overwrite, never duplicate);
    *   4. the batch's distinct fresh hashes land in `chunk_hashes` TAGGED
    *      with bid, by the same bracket — which makes the crash window
    *      safe: a replay reads only `batch_id < bid` as "seen", so it
    *      recomputes identically, and its bracket replaces whatever hash
    *      rows a crashed attempt landed. Each bracket is replay-safe on
    *      its own, so the two run concurrently.
    *
    * Scale notes: `chunk_hashes` is a range table on `batch_id` — each
    * batch appends one dir bounded [bid, bid], and the store's tiered
    * compaction keeps the live dirs near 64 plus 8 per level. The probe
    * reads every dir below `bid`: O(state) rows in O(dirs) files. The
    * 256-way hash-prefix layout it replaces read 1 − e^(−C/256) of the
    * state for a batch of C distinct chunks (98 % at C = 1,000), so it
    * pruned only small batches, and it wrote one file per touched prefix
    * per batch. On the happy path the bracket's delete runs no Spark job
    * (no live dir's bounds meet `bid`).
    *
    * State growth pricing: `chunk_hashes` holds EXACTLY one row per
    * distinct chunk ever kept — rows ≈ distinct chunks, ~(32-char md5 +
    * long ≈ 45 B/row raw, ~25 B parquet-encoded) — growing linearly
    * with distinct-chunk mass forever, which is inherent to exact dedup
    * (forgetting a hash re-admits its duplicates). `retentionBatches`
    * trades that for SLIDING-WINDOW semantics when a deployment accepts
    * it: once per window every batch older than the last N drops (a range
    * delete: whole dirs leave the manifest, only a compacted dir
    * straddling the cut is rewritten), after which a duplicate of a chunk
    * older than the window reads as fresh — the documented semantic
    * change, not a bug. None (default) keeps the unbounded exact
    * behavior.
    */
  def processChunkBatch(store: graft.chain.TableStore, chunkTokens: Int,
                        retentionBatches: Option[Long] = None)
                       (batch: DataFrame, bid: Long): Unit = {
    import graft.operators.Dedup
    store.requireRanged("chunk_hashes")
    // a fresh checkpoint restarts batch ids at 0: running it against a
    // store that already holds later-batch state would hide the whole
    // accumulated history behind `batch_id < bid` and emit wrong counts
    // for the entire catch-up — fail fast instead (from the dir bounds,
    // bid=0 only; same-bid rows are the legitimate crash-replay case)
    if (bid == 0L)
      require(!store.rangeDirs("chunk_hashes").exists(_._2 > 0L),
        "chunk_hashes holds later-batch state but the stream restarted at batch 0: " +
          "the checkpoint and the state store must be wiped together")
    val chunks = Dedup.chunkHashes(batch, "doc_id", "text", chunkTokens)
      .localCheckpoint(true) // consumed by both fresh and the doc totals
    val seen = store.readRange("chunk_hashes", "batch_id", Long.MinValue, bid - 1,
      HashesSchema).select(col("h"))
    // checkpoint the anti-join's (small, O(batch)) result so the two
    // consumers below don't run the state scan twice
    val fresh = chunks.join(seen, chunks("__h") === seen("h"), "left_anti")
      .localCheckpoint(true)
    // within-batch keep-first among store-fresh chunks (the d9 rule)
    val uniques = fresh
      .groupBy("__h")
      .agg(min(struct(col("doc_id").as("i"), col("__ci").as("c"))).as("__first"))
      .groupBy(col("__first.i").as("doc_id"))
      .agg(count(lit(1)).as("__uniq"))
    val counts = chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      .join(uniques, Seq("doc_id"), "left")
      .select(lit(bid).as("batch_id"), col("doc_id"), col("n_chunks"),
        (col("n_chunks") - coalesce(col("__uniq"), lit(0L))).as("dup_chunks"))
      .withColumn("dup_fraction",
        round(col("dup_chunks").cast("double") / col("n_chunks").cast("double"), 6))
    graft.chain.Par.run(Seq(
      () => {
        store.deleteRange("chunk_dedup", "batch_id", bid, bid)
        store.appendRange("chunk_dedup", counts, "batch_id", bid, bid)
      },
      () => {
        // the bracket keeps the state table at one row per distinct chunk
        // even under a crash LOOP on this batch
        store.deleteRange("chunk_hashes", "batch_id", bid, bid)
        store.appendRange("chunk_hashes",
          fresh.select(col("__h").as("h")).distinct().withColumn("batch_id", lit(bid)),
          "batch_id", bid, bid)
      }))
    // sliding-window retention (see the scaladoc pricing note): once per
    // window — idempotent under replay (the same cut drops the same rows)
    retentionBatches.foreach { r =>
      if (r > 0 && bid > 0 && bid % r == 0)
        store.deleteRange("chunk_hashes", "batch_id", Long.MinValue, bid - r - 1)
    }
  }

  /** `chunk_hashes`: one row per distinct kept chunk hash, tagged with the
    * batch that first kept it.
    */
  val HashesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL("h STRING, batch_id BIGINT")

  /** Watermarked per-window arrival counts + mean quality features: the
    * standard event-time aggregation (append mode emits a window once the
    * watermark passes; stragglers later than `lateness` are dropped, which
    * bounds state).
    */
  def windowedQuality(docs: DataFrame, tsCol: String, windowLen: String,
                      lateness: String): DataFrame = {
    val punctRatio = TextOps.qualityFeatures(col("text"))
      .collectFirst { case ("punct_ratio", c) => c }.get
    docs
      .withColumn("__q", punctRatio)
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen))
      .agg(count(lit(1)).as("n_docs"), avg(col("__q")).as("mean_punct_ratio"))
      .select(col("window.start").as("window_start"), col("n_docs"), col("mean_punct_ratio"))
  }
}
