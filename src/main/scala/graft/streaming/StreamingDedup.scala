package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}
import graft.chain.TableStore
import graft.operators.Dedup

/** Streaming face of MinHash-LSH near-dup detection (the d2 family): a
  * crawl feed arrives over micro-batches, every new document must be
  * checked against EVERYTHING kept so far, and the index must grow
  * incrementally — never rebuild. Same foreachBatch + persistent-table
  * architecture as [[StreamingText.processChunkBatch]] and
  * [[StreamingSimilarity.processEmbeddingBatch]] (a stateful-operator
  * formulation can't express it: the index is a TABLE probed by band
  * keys, and the verdict re-aggregates by doc).
  *
  * Index layout — CANONICAL DOCS ONLY, one table: `lsh_postings` (band,
  * band_hash, doc_id, batch_id, sig), a range table on `batch_id`. Each
  * batch appends one dir bounded [bid, bid], and the store's tiered
  * compaction bounds the live dir count. A canonical's MinHash `sig`
  * rides on its band-0 row and is null on its other rows, so its
  * signature and its postings land in one dir and one commit. The
  * candidate probe reads every dir below `bid` without the `sig` column
  * (parquet prunes it); the candidates' signatures come from the band-0
  * rows of the same dirs. A 256-way band-hash prefix layout barely
  * pruned the probe: a batch of B documents carries 16·B band hashes
  * and so touches 1 − e^(−16B/256) of the prefixes (98 % at B = 64), so
  * it pruned only for batches under about 16 documents, and every batch
  * wrote one file per touched prefix.
  * Keeping only canonicals in the index is what production frontiers do:
  * dups never accumulate as index mass, and a chain of near-dups all
  * resolves against the one kept representative.
  *
  * Per-batch verdict (`near_dups`, delete-then-append on batch_id):
  * (batch_id, doc_id, is_new 1|0, dup_of, est_jaccard). Matching is the
  * standard MinHash estimator — the fraction of equal signature
  * components, which estimates Jaccard unbiasedly — against (a) earlier
  * batches' canonicals sharing an LSH bucket and (b) the batch's own
  * within-batch candidate groups, collapsed through connected components
  * (batch-bounded) so chains keep exactly their min-id member. A doc
  * whose batch-canonical matched an older doc resolves to THAT older doc.
  *
  * Replay idempotency: postings rows are tagged with batch_id; the
  * "earlier corpus" is `batch_id < bid`, so a replayed batch never
  * matches its own half-landed rows and recomputes the identical
  * verdict. Every table it writes then goes through the delete-then-
  * append bracket on `[bid, bid]`, which drops whatever a crashed
  * attempt landed; on the happy path no live dir's bounds meet `bid`, so
  * the delete runs no Spark job. Each bracket is replay-safe alone, so
  * the two run concurrently.
  */
object StreamingDedup {

  val PostingsTable = "lsh_postings"
  val VerdictTable  = "near_dups"

  val postingsSchema: StructType = StructType(Seq(
    StructField("band", IntegerType), StructField("band_hash", LongType),
    StructField("doc_id", LongType), StructField("batch_id", LongType),
    StructField("sig", ArrayType(LongType))))

  /** Estimated Jaccard: fraction of equal MinHash components. The equal-
    * component count is the native codegen kernel
    * [[graft.functions.SigEqCount]] (bit-identical to the former
    * aggregate/zip_with HOF chain — see its scaladoc for the branch
    * mapping); divide and round stay declarative built-ins.
    */
  private def sigAgreement(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
                           numHashes: Int) =
    round(graft.functions.SigEqCount(a, b).cast("double") / numHashes, 6)

  /** foreachBatch body. `maxBucket` is the usual hot-bucket valve on both
    * the index probe and the within-batch candidate stage.
    *
    * State growth pricing: `lsh_postings` holds `bands` rows per CANONICAL
    * doc, one of them carrying its signature (numHashes longs ≈
    * 8·numHashes B) — linear in distinct-canonical mass forever, inherent
    * to dedup-against-everything-kept. The signature fetch reads the `sig`
    * column of every dir below `bid`, as the probe reads its own columns.
    * `retentionBatches` trades that for SLIDING-WINDOW near-dup semantics:
    * once per window the index drops every batch older than the last N (a range
    * delete: whole dirs drop from the manifest, and only a compacted dir
    * straddling the cut is rewritten), after which a near-dup
    * of a canonical older than the window reads as NEW — the documented
    * semantic change. None (default) keeps the unbounded exact behavior.
    */
  def processLshBatch(store: TableStore,
                      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
                      simThreshold: Double = 0.7,
                      maxBucket: Int = Dedup.DefaultMaxBucket,
                      retentionBatches: Option[Long] = None)
                     (batch: DataFrame, bid: Long): Unit = {
    store.requireRanged(PostingsTable)
    if (store.exists(LegacySigsTable))
      legacy(store, LegacySigsTable, "a separate signature table")

    // 1. one signature pass per doc; band rows derived from it
    val sigs = Dedup.minHashSignatureArray(batch, "doc_id", "text", shingleSize, numHashes)
      .localCheckpoint(true)
    val bandRows = Dedup.lshBands(sigs, "doc_id", numHashes, bands)
      .localCheckpoint(true)

    // 2. probe of the canonical index: every dir of earlier batches only
    //    (replay safety), opened from the manifest's bounds.
    //    The old side is count-gated per bucket BEFORE the join — a band
    //    hash shared by 10⁶ distinct canonicals (boilerplate signatures)
    //    would otherwise multiply every matching batch row by the full
    //    bucket; above the valve the bucket is dropped and the other
    //    bands provide recall, the maxBucket discipline throughout Dedup.
    val oldPostings = store.readRange(PostingsTable, "batch_id", Long.MinValue, bid - 1,
      postingsSchema)
    if (!oldPostings.columns.contains("sig"))
      legacy(store, PostingsTable, "postings without a sig column")
    val coldBuckets = oldPostings.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") <= maxBucket).select("band", "band_hash")
    val oldPairs = bandRows
      .join(oldPostings.select(col("band"), col("band_hash"), col("doc_id").as("old_id"))
          .join(coldBuckets, Seq("band", "band_hash"), "left_semi"),
        Seq("band", "band_hash"))
      .select(col("doc_id"), col("old_id")).distinct()
      .localCheckpoint(true)

    // 3. signatures for the candidate OLD docs: the band-0 rows of the
    //    dirs the probe opened
    val oldSigs = oldPostings.filter(col("band") === 0)
      .select(col("doc_id").as("old_id"), col("sig").as("old_sig"))
    val oldMatches = oldPairs
      .join(sigs, "doc_id")
      .join(oldSigs, "old_id")
      .withColumn("est_jaccard", sigAgreement(col("sig"), col("old_sig"), numHashes))
      .filter(col("est_jaccard") >= simThreshold)
      .select(col("doc_id"), col("old_id"), col("est_jaccard"))
      .localCheckpoint(true)

    // 4. within-batch candidates (count-gated buckets via candidatePairs),
    //    verified by the same estimator, collapsed via CC so chains keep
    //    their min-id member
    val inBatchPairs = Dedup.candidatePairs(bandRows, "doc_id", Some(maxBucket))
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("__sa")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("__sb")), "id_b")
      .withColumn("est_jaccard", sigAgreement(col("__sa"), col("__sb"), numHashes))
      .filter(col("est_jaccard") >= simThreshold)
      .select("id_a", "id_b", "est_jaccard")
    val labels = Dedup.connectedComponents(
      inBatchPairs.select("id_a", "id_b"), "id_a", "id_b")
      .select(col("id").as("doc_id"), col("label"))

    // 5. verdicts. Precedence: an old-index match beats in-batch identity
    //    (the corpus saw it first); a doc whose batch-canonical matched an
    //    old doc resolves to that old doc too. est_jaccard reports the
    //    estimator that triggered the verdict (the old match's, else the
    //    best in-batch pair's — only ever computed values, never inferred
    //    across a CC chain).
    val bestOld = oldMatches
      .groupBy("doc_id")
      .agg(max(struct(col("est_jaccard"), (-col("old_id")).as("__nid"))).as("__m"))
      .select(col("doc_id"), (-col("__m.__nid")).as("dup_of_old"),
        col("__m.est_jaccard").as("old_sim"))
    // best computed estimator over BOTH pair sides: a CC member can appear
    // only as id_a of its surviving pairs (e.g. pairs (3,9) and (5,9) from
    // two different bands put 5 in component {3,5,9} with 5 never an id_b),
    // so aggregating one side alone would leave a real dup with a null
    // estimator. The group minimum also gets an in_sim here; the verdict
    // select nulls est_jaccard whenever dup_of is null, preserving the
    // invariant est_jaccard non-null ⟺ dup verdict.
    val bestIn = inBatchPairs.select(col("id_a").as("doc_id"), col("est_jaccard"))
      .unionByName(inBatchPairs.select(col("id_b").as("doc_id"), col("est_jaccard")))
      .groupBy("doc_id")
      .agg(max("est_jaccard").as("in_sim"))
    val withLabel = sigs.select(col("doc_id"), col("sig"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("canon", coalesce(col("label"), col("doc_id")))
    val canonOld = bestOld.select(col("doc_id").as("canon"),
      col("dup_of_old").as("canon_dup_of"))
    val verdicts = withLabel
      .join(bestOld, Seq("doc_id"), "left")
      .join(bestIn, Seq("doc_id"), "left")
      .join(canonOld, Seq("canon"), "left")
      .withColumn("dup_of",
        coalesce(col("dup_of_old"),
          when(col("canon") =!= col("doc_id"),
            coalesce(col("canon_dup_of"), col("canon")))))
      .select(
        lit(bid).as("batch_id"),
        col("doc_id"),
        col("sig"),
        col("dup_of"),
        when(col("dup_of").isNotNull,
          coalesce(col("old_sim"), col("in_sim"))).as("est_jaccard"))
      .withColumn("is_new", when(col("dup_of").isNull, 1).otherwise(0).cast("int"))
      .localCheckpoint(true)

    // 6. verdict and index growth (canonicals only), each table through
    //    its own delete-then-append bracket on [bid, bid]: the verdict
    //    above read only batch_id < bid, so neither bracket depends on the
    //    other, and a crash between them leaves each one to its replay.
    val kept = verdicts.filter(col("is_new") === 1).select(col("doc_id"), col("sig"))
    graft.chain.Par.run(Seq(
      () => {
        store.deleteRange(VerdictTable, "batch_id", bid, bid)
        store.appendRange(VerdictTable,
          verdicts.select("batch_id", "doc_id", "is_new", "dup_of", "est_jaccard"),
          "batch_id", bid, bid)
      },
      () => {
        store.deleteRange(PostingsTable, "batch_id", bid, bid)
        store.appendRange(PostingsTable,
          bandRows.join(kept, "doc_id")
            .select(col("band"), col("band_hash"), col("doc_id"), lit(bid).as("batch_id"),
              when(col("band") === 0, col("sig")).as("sig")),
          "batch_id", bid, bid)
      }))

    // sliding-window retention (see the scaladoc pricing note): once per
    // window — idempotent under replay (the same cut drops the same rows)
    retentionBatches.foreach { r =>
      if (r > 0 && bid > 0 && bid % r == 0)
        store.deleteRange(PostingsTable, "batch_id", Long.MinValue, bid - r - 1)
    }
  }

  /** The signature table of stores from before the signatures moved onto
    * `lsh_postings`' band-0 rows.
    */
  private val LegacySigsTable = "lsh_sigs"

  private def legacy(store: TableStore, table: String, what: String): Nothing =
    throw new IllegalStateException(s"table '$table' under ${store.root} holds $what, " +
      "a layout from before the signatures moved onto lsh_postings' band-0 rows, which " +
      "this store does not read; re-ingest into a fresh dataDir")
}
