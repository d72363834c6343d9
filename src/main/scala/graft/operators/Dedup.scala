package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, from exact to
  * near-duplicate. Scale design notes:
  *   - exact dedup is a single hash aggregation on the fingerprint (one
  *     shuffle, map-side partial);
  *   - MinHash/SimHash signatures are computed ONCE per document (a single
  *     aggregation emitting an array column), then banded/chunked via
  *     posexplode — no per-band re-aggregation, no plan duplication;
  *   - candidate pairs come from a groupBy on the bucket key (band hash /
  *     chunk value) + in-row pair expansion, so the shuffle is on bucket
  *     keys and the quadratic blow-up is bounded per bucket — the all-pairs
  *     cross join never materializes and no self-join recomputes the
  *     signature plan;
  *   - verification (exact Jaccard / Hamming) runs only on candidates.
  *
  * All content hashing is md5-based ("portable hashes"): the identical
  * construction is expressible in ANSI/DuckDB SQL, so every stage of the
  * pipeline is oracle-checkable, not just the verify step.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id representative per normalized text.
    * Aggregation (not window) so map-side combine kicks in — at 100 TB the
    * reducer sees one row per distinct fingerprint, not per document.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", TextOps.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Exact duplicate groups (fingerprint, members>1). */
  def duplicateGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", TextOps.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))
      .filter(col("n_copies") > 1)

  // ---- Portable hashing -------------------------------------------------

  /** 32-bit hashes from the md5 digest: first / second 8 hex digits parsed
    * base-16. Deterministic, engine-agnostic (DuckDB mirrors them with
    * instr-based hex parsing), and codegen'd in Spark (md5 + conv built-ins).
    */
  private[graft] def portableHashLo(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")
  private[graft] def portableHashHi(c: Column): Column =
    conv(substring(md5(c), 9, 8), 16, 10).cast("long")

  // ---- MinHash + LSH ----------------------------------------------------

  /** Deterministic universal-hash parameters (a·x + b mod p). Fixed rather
    * than seeded at runtime so signatures are reproducible run-to-run (and
    * in the SQL oracle, which interpolates the same constants).
    * p = 2^31−1 keeps a·x < 2^62 — no long overflow under ANSI mode.
    */
  private[graft] val MersennePrime = (1L << 31) - 1
  /** Multiplier for the per-band polynomial fold over signature slices. */
  private[graft] val BandFoldMult = 1000003L
  private[graft] def hashA(i: Int): Long = {
    var x = 0x9E3779B97F4A7C15L * (i + 1)
    x ^= x >>> 32; x *= 0xBF58476D1CE4E5B9L; x ^= x >>> 29
    (x & Long.MaxValue) % (MersennePrime - 1) + 1
  }
  private[graft] def hashB(i: Int): Long = {
    var x = 0xC2B2AE3D27D4EB4FL * (i + 1)
    x ^= x >>> 31; x *= 0x94D049BB133111EBL; x ^= x >>> 27
    (x & Long.MaxValue) % MersennePrime
  }

  /** MinHash signature as `numHashes` columns computed in ONE aggregation
    * over exploded (doc, shingle-hash) rows: min(a_i·h + b_i mod p) per i.
    * No UDAF, no per-row arrays — 64 codegen'd min aggregates.
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int, numHashes: Int): DataFrame = {
    // explode the NATIVE hash array (8-byte rows) instead of shingle
    // strings re-hashed per row — same pmod(md5-lo) values by construction
    val shingled = df
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(TextOps.shingleHashArray(col("__toks"), shingleSize)).as("__h"))
    val minExprs = (0 until numHashes).map { i =>
      min(pmod(col("__h") * lit(hashA(i)) + lit(hashB(i)), lit(MersennePrime))).as(s"mh_$i")
    }
    shingled.groupBy(col(idCol)).agg(minExprs.head, minExprs.tail: _*)
  }

  /** Signature as a single `sig: array<long>` column — the shape the
    * banding stage consumes (slice + posexplode, zero recompute).
    */
  def minHashSignatureArray(df: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int, numHashes: Int): DataFrame =
    minHashSignatures(df, idCol, textCol, shingleSize, numHashes)
      .select(col(idCol), array((0 until numHashes).map(i => col(s"mh_$i")): _*).as("sig"))

  /** LSH banding over an array signature: ONE pass emits (band, band_hash)
    * rows via posexplode of per-band polynomial folds — the signature
    * aggregation upstream is computed exactly once, not per band.
    * Band hash = fold acc·M + v mod p over the band's slice: equal slices
    * always collide (no false negatives); the rare cross-slice collision is
    * removed by exact verification downstream.
    */
  def lshBands(sigs: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    val r = numHashes / bands
    require(r * bands == numHashes, "bands must divide numHashes")
    val bandHashes = transform(sequence(lit(0), lit(bands - 1)), b =>
      aggregate(slice(col("sig"), b * r + 1, lit(r)), lit(0L),
        (acc, v) => pmod(acc * lit(BandFoldMult) + v, lit(MersennePrime))))
    sigs.select(col(idCol), posexplode(bandHashes).as(Seq("band", "band_hash")))
  }

  /** All ordered pairs (i<j) from a sorted array, as one in-row expansion. */
  private def orderedPairs(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)), y => struct(x.as("a"), y.as("b")))))

  /** Default skew valve for the candidate-bucket stages: a bucket shared by
    * 10k documents expands 5·10⁷ in-bucket pairs — already pathological as
    * a dedup signal (production LSH drops hot buckets and lets the other
    * bands provide recall), so every candidate stage caps there unless the
    * caller overrides. Well above anything the test scale factors produce,
    * so small-scale results stay exact.
    *
    * COMPATIBILITY NOTE: before round 11 these stages defaulted to
    * maxBucket = None (exact — every bucket expanded regardless of size).
    * A caller whose corpus has buckets above 10k now silently loses those
    * buckets' pairs under the default; pass `maxBucket = None` explicitly
    * to recover the old exact contract.
    */
  val DefaultMaxBucket: Int = 10000

  /** Default degenerate-cell valve for [[semanticDedup]]: SemDeDup sizes
    * centroids so cells hold ~10⁴ vectors, so a cell past 64k means the
    * centroid fit has collapsed (duplicate/zero centroids) — salt-split it
    * rather than letting the within-cell join go quadratic.
    */
  val DefaultMaxCell: Int = 65536

  /** Count-gated bucket build — the memory-safe form of
    * `groupBy(key).agg(collect_set(id))`. A naive collect_set materializes
    * the FULL id array per bucket key before any size filter can drop it,
    * so one boilerplate fingerprint shared by 10⁶ docs builds a multi-MB
    * aggregation buffer on a single reducer — an OOM at corpus scale.
    * [[graft.functions.BoundedSortedSetAgg]] keeps the size gate INSIDE the
    * aggregation buffer (a bucket past `maxBucket` poisons to a flag and
    * stops accumulating), so the whole gate+collect is ONE aggregation:
    * one Exchange on the bucket key where the previous shape (combine-
    * friendly count → [2, maxBucket] filter → left-semi join back →
    * collect_set over the survivors) paid two Exchanges plus a join for
    * identical output. maxBucket = None keeps the historical exact
    * contract: no size cap (count > 1 still applies), and — as before —
    * no memory bound on a pathological bucket.
    *
    * Contract: `rows` must be DISTINCT per (keyCols, payload) — every
    * caller here guarantees it (posexplode emits each id once per band/
    * chunk, the winnow/shingle relations are array_distinct/.distinct()) —
    * so the historical count(*) gate and this distinct-set size gate agree
    * exactly.
    */
  private def gatedBuckets(rows: DataFrame, keyCols: Seq[String],
                           payload: Column, maxBucket: Option[Int]): DataFrame = {
    val keys = keyCols.map(col)
    rows.groupBy(keys: _*)
      .agg(graft.functions.BoundedSortedSetAgg(
        payload, 2, maxBucket.getOrElse(Int.MaxValue)).as("__ids"))
      .filter(col("__ids").isNotNull)
  }

  /** Candidate pairs from shared LSH buckets: count-gate the bucket key
    * (see [[gatedBuckets]]), then expand pairs inside each surviving
    * bucket. The shuffle is on bucket keys and the upstream banding plan is
    * never duplicated by a self-join.
    */
  def candidatePairs(bands: DataFrame, idCol: String,
                     maxBucket: Option[Int] = Some(DefaultMaxBucket)): DataFrame =
    gatedBuckets(bands, Seq("band", "band_hash"), col(idCol), maxBucket)
      .select(explode(orderedPairs(col("__ids"))).as("__p"))
      .select(col("__p.a").as("id_a"), col("__p.b").as("id_b"))
      .distinct()

  /** Graded n-gram-overlap decontamination (D8): for every corpus document,
    * the FRACTION of its distinct n-gram fingerprints that appear anywhere
    * in the benchmark set. The any-single-gram screen
    * ([[graft.operators.Curation.contaminatedIds]], d7) flags incidental
    * collisions; real release pipelines threshold on the overlap fraction,
    * which this computes exactly. Rows with overlap < `minOverlap` drop.
    *
    * Scale shape: the benchmark's distinct gram-hash set broadcasts
    * (benchmarks are small by construction); the corpus explodes to
    * (doc, gram-hash) once and the ratio aggregates with map-side combine
    * — one shuffle on doc_id, the corpus text is scanned once.
    */
  def contaminationScores(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String, shingleSize: Int,
                          minOverlap: Double = 0.0): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      // in-row distinct of the NATIVE hash array: same (id, hash) set as
      // the old explode-strings→hash→relation-distinct, minus the string
      // explode and the corpus-wide distinct exchange
      .select(col(idCol),
        explode(array_distinct(TextOps.shingleHashArray(col("__toks"), shingleSize))).as("__h"))
    val bench = broadcast(grams(benchmark).select("__h").distinct()
      .withColumn("__hit", lit(1)))
    grams(corpus)
      .join(bench, Seq("__h"), "left_outer")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_hit"))
      .withColumn("overlap", col("n_hit").cast("double") / col("n_grams").cast("double"))
      .filter(col("overlap") >= minOverlap)
  }

  /** Exact shingle-set Jaccard for given pairs, via two equi-joins carrying
    * the per-doc set and an in-row intersect — integer counts (|A∩B|, |A|,
    * |B|), no floating point until the final ratio, and only candidates are
    * verified. Sets are the 32-bit portable hashes of the shingles, not the
    * strings: long arrays shuffle ~5-10× less IO than string arrays and
    * intersect without string compares; the rare 32-bit collision is
    * deterministic and mirrored by the SQL oracle (same md5 construction).
    */
  def verifyJaccard(df: DataFrame, pairs: DataFrame, idCol: String, textCol: String,
                    shingleSize: Int,
                    persistIntermediates: Boolean = true): DataFrame = {
    val sets = df
      .select(col(idCol).as("__vid"), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("__vid"),
        array_distinct(transform(TextOps.shinglesOfTokens(col("__toks"), shingleSize),
          g => pmod(portableHashLo(g), lit(MersennePrime)))).as("__set"))
    // Materialized (one (id, hash-set) row per doc — the minHash per-doc
    // shape): both join sides consume this plan, and ReuseExchange only
    // MAY dedupe the exchanges (it cannot when a broadcast side skips the
    // exchange entirely) — the checkpoint makes the tokenize+md5 pass
    // run exactly once unconditionally.
    val sized = Materialize.pivot(
      sets.select(col("__vid"), col("__set"), size(col("__set")).as("__sz")),
      persistIntermediates)
    pairs
      .join(sized, pairs("id_a") === sized("__vid"))
      .withColumnRenamed("__set", "set_a").withColumnRenamed("__sz", "sz_a").drop("__vid")
      .join(sized, col("id_b") === sized("__vid"))
      .withColumnRenamed("__set", "set_b").withColumnRenamed("__sz", "sz_b").drop("__vid")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        (col("inter").cast("double") / col("uni").cast("double")).as("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: ONE aggregation over the exploded
    * shingle hashes yields BOTH the signature (64 mins) and the distinct
    * hash set per document; banding (posexplode), candidates (bucket
    * groupBy), and exact verification all consume that per-doc relation.
    *
    * `persistIntermediates` (default true) materializes the per-doc
    * relation once via an eager `localCheckpoint`: the corpus is then
    * tokenized/shingled/hashed exactly ONCE no matter how many downstream
    * consumers reference it — at 100 TB the difference between one scan
    * and three. Catalyst cannot dedupe the common subtree on its own.
    * localCheckpoint (MEMORY_AND_DISK blocks, lineage cut) is used instead
    * of `Dataset.persist` deliberately: persist registers the relation in
    * the session's CacheManager, which holds a strong reference for the
    * session lifetime — every invocation would leak a corpus-sized cache
    * entry in long-lived services. Checkpoint blocks are reclaimed by the
    * ContextCleaner as soon as the returned plan is garbage-collected.
    * (Set false for tiny one-shot inputs; on a multi-executor cluster,
    * note localCheckpoint recomputes from scratch on executor loss.)
    */
  def minHashLshNearDups(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
                         threshold: Double = 0.8,
                         persistIntermediates: Boolean = true): DataFrame = {
    val shingled = df
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(TextOps.shingleHashArray(col("__toks"), shingleSize)).as("__h"))
    val aggs = (0 until numHashes).map { i =>
      min(pmod(col("__h") * lit(hashA(i)) + lit(hashB(i)), lit(MersennePrime))).as(s"mh_$i")
    } :+ collect_set(col("__h")).as("__set")
    val perDoc = Materialize.pivot(
      shingled.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*),
      persistIntermediates)

    val sigs  = perDoc.select(col(idCol),
      array((0 until numHashes).map(i => col(s"mh_$i")): _*).as("sig"))
    val cands = candidatePairs(lshBands(sigs, idCol, numHashes, bands), idCol)

    val sized = perDoc.select(col(idCol).as("__vid"), col("__set"),
      size(col("__set")).as("__sz"))
    cands
      .join(sized, cands("id_a") === sized("__vid"))
      .withColumnRenamed("__set", "set_a").withColumnRenamed("__sz", "sz_a").drop("__vid")
      .join(sized, col("id_b") === sized("__vid"))
      .withColumnRenamed("__set", "set_b").withColumnRenamed("__sz", "sz_b").drop("__vid")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        (col("inter").cast("double") / col("uni").cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---- SimHash ---------------------------------------------------------

  /** SimHash as two 32-bit halves (bits 0-31 / 32-63), one aggregation with
    * 64 conditional sums over exploded token hashes; bit j is set when the
    * weighted bit-sum is non-negative. Halves (not one 64-bit value) keep
    * every intermediate non-negative — exactly mirrorable in SQL engines
    * without two's-complement edge cases at bit 63.
    */
  def simHashHalves(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toked = df.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("__t"))
      .withColumn("__lo", portableHashLo(col("__t")))
      .withColumn("__hi", portableHashHi(col("__t")))
    def bitSums(src: String, prefix: String) = (0 until 32).map { j =>
      sum(when(col(src).bitwiseAND(lit(1L << j)) =!= 0L, 1).otherwise(-1)).as(s"${prefix}_$j")
    }
    val exprs = bitSums("__lo", "bl") ++ bitSums("__hi", "bh")
    val agged = toked.groupBy(col(idCol)).agg(exprs.head, exprs.tail: _*)
    def half(prefix: String): Column = (0 until 32).map { j =>
      when(col(s"${prefix}_$j") >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    agged.select(col(idCol), half("bl").as("sh_lo"), half("bh").as("sh_hi"))
  }

  /** 64-bit SimHash per document (halves packed; bit 63 may set the sign). */
  def simHash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simHashHalves(df, idCol, textCol)
      .select(col(idCol), shiftleft(col("sh_hi"), 32).bitwiseOR(col("sh_lo")).as("simhash"))

  /** SimHash near-dups: candidates share one of four 16-bit chunks (any
    * pair within Hamming distance 3 must agree on ≥1 chunk — pigeonhole;
    * larger maxHamming keeps the scheme as a recall-tuned LSH), verified by
    * exact Hamming via bit_count(xor) on each half. The hash plan runs
    * once: chunk rows come from posexplode, pairs from a bucket groupBy.
    *
    * `maxBucket` is the same skew valve as `candidatePairs`: a hot 16-bit
    * chunk value (short/boilerplate docs hash near zero) would otherwise
    * collect an unbounded array into one row and explode O(n²) pairs. The
    * count-gate ([[gatedBuckets]]) bounds memory even before the valve; at
    * corpus scale a bucket above the cap is both quadratic and useless as a
    * discriminator, and the other three chunks still provide recall.
    */
  def simHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3,
                      maxBucket: Option[Int] = Some(DefaultMaxBucket)): DataFrame =
    hamming64NearDups(simHash64(df, idCol, textCol), idCol, "simhash",
      maxHamming, maxBucket)

  /** Near-dup pairs over ANY precomputed 64-bit perceptual hash column —
    * the d3 pigeonhole machinery (4×16-bit chunk buckets guarantee recall
    * for Hamming ≤ 3; larger `maxHamming` keeps it as a recall-tuned LSH)
    * detached from SimHash's text pipeline, so image aHashes, audio
    * fingerprints, or any other 64-bit signature family reuses the same
    * count-gated candidate stage and exact `bit_count(xor)` verify.
    */
  def hamming64NearDups(df: DataFrame, idCol: String, hashCol: String,
                        maxHamming: Int = 3,
                        maxBucket: Option[Int] = Some(DefaultMaxBucket),
                        persistIntermediates: Boolean = true): DataFrame = {
    // The (id, hash) relation is 16 bytes per row but its UPSTREAM is the
    // expensive part (the SimHash 64-sum aggregation for d3; a full image
    // decode per asset for m14's aHash), and the count-gate below has two
    // consumers — materialize the hashes once (eager localCheckpoint, the
    // minHashLshNearDups discipline; this is exactly the guide's
    // "lightweight proxy" relation) so the hash computation never re-runs.
    val hashed = Materialize.pivot(
      df.filter(col(hashCol).isNotNull)
        .select(col(idCol).as("__hid"), col(hashCol).as("__hval")),
      persistIntermediates)
    val chunkVals = array((0 until 4).map(i =>
      shiftrightunsigned(col("__hval"), 16 * i).bitwiseAND(lit(0xFFFFL))): _*)
    val chunked = hashed
      .select(struct(col("__hid").as("id"), col("__hval").as("h")).as("__doc"),
        posexplode(chunkVals).as(Seq("chunk", "chunk_val")))
    val buckets = gatedBuckets(chunked, Seq("chunk", "chunk_val"), col("__doc"), maxBucket)
    buckets.select(explode(orderedPairs(col("__ids"))).as("__p"))
      .select(col("__p.a.id").as("id_a"), col("__p.b.id").as("id_b"),
        col("__p.a.h").as("h_a"), col("__p.b.h").as("h_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ---- Embedding near-dup ----------------------------------------------

  /** Embedding-cosine near-dup: LSH-bucketed candidate pairs above a cosine
    * threshold. Buckets are grouped (not self-joined) so the projection
    * plan runs once; the quadratic check stays inside buckets.
    */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                     nPlanes: Int = 8, threshold: Double = 0.95,
                     maxBucket: Option[Int] = Some(DefaultMaxBucket)): DataFrame = {
    val bucketed = df.select(
      struct(col(idCol).as("id"), col(vecCol).as("vec")).as("__doc"),
      Similarity.lshBucket(col(vecCol), dim, nPlanes).as("__bucket"),
      lit(0).as("band"))
      .withColumnRenamed("__bucket", "band_hash")
    val buckets = gatedBuckets(bucketed, Seq("band", "band_hash"), col("__doc"), maxBucket)
    buckets.select(explode(orderedPairs(col("__ids"))).as("__p"))
      .select(col("__p.a.id").as("id_a"), col("__p.b.id").as("id_b"),
        round(Similarity.cosine(col("__p.a.vec"), col("__p.b.vec")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .distinct()
  }

  // ---- Duplicate-cluster connected components ---------------------------

  /** Near-dup candidate edges from shared winnowing fingerprints (the t6
    * construction): docs sharing ≥ `minShared` winnowed k-gram mins are
    * linked — the MOSS criterion, which guarantees an edge for any pair
    * sharing ≥ minShared disjoint runs of w+k−1 tokens. Pairs expand
    * inside fingerprint buckets (groupBy, not a self-join — the fingerprint
    * plan runs once), and `maxBucket` is the same skew valve as
    * candidatePairs: a fingerprint shared by millions of boilerplate docs
    * is quadratic in-bucket and useless as a signal.
    */
  def winnowEdges(df: DataFrame, idCol: String, textCol: String,
                  shingleSize: Int = 3, window: Int = 4, minShared: Int = 2,
                  maxBucket: Option[Int] = Some(DefaultMaxBucket)): DataFrame =
    winnowEdgesFromTokens(
      df.select(col(idCol), TextOps.tokens(col(textCol)).as("__toks")),
      idCol, "__toks", shingleSize, window, minShared, maxBucket)

  /** [[winnowEdges]] over a PRE-MATERIALIZED token-array column — the
    * face a composed pipeline uses so the working text is tokenized ONCE
    * and every downstream stage (clustering, decontamination, token
    * accounting) consumes the same array (see Release.releasePipeline).
    */
  def winnowEdgesFromTokens(df: DataFrame, idCol: String, toksCol: String,
                            shingleSize: Int = 3, window: Int = 4, minShared: Int = 2,
                            maxBucket: Option[Int] = Some(DefaultMaxBucket),
                            persistIntermediates: Boolean = true): DataFrame = {
    // Per-doc fingerprint arrays materialize ONCE (the minHashLshNearDups
    // persistIntermediates discipline — eager localCheckpoint, blocks
    // ContextCleaner-reclaimed): the count-gate inside gatedBuckets has
    // two consumers of this relation (the bucket-size count and the
    // gated rows), and Catalyst re-runs the tokenize→shingle-hash→winnow
    // chain once per consumer — at 100 TB that is two full corpus passes
    // where one suffices. Checkpoint payload is one (id, fps) row per doc
    // (hashes only, ~8 B per fingerprint), the same shape the minHash
    // per-doc relation persists.
    val fpArr = Materialize.pivot(df
      .select(col(idCol), TextOps.shingleHashArray(col(toksCol), shingleSize).as("__hs"))
      .select(col(idCol),
        TextOps.winnowedFingerprintsOfHashes(col("__hs"), window).as("__fps")),
      persistIntermediates)
    val wf = fpArr.select(col(idCol), explode(col("__fps")).as("fp"))
    val buckets = gatedBuckets(wf, Seq("fp"), col(idCol), maxBucket)
    buckets.select(explode(orderedPairs(col("__ids"))).as("__p"))
      .select(col("__p.a").as("id_a"), col("__p.b").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select("id_a", "id_b")
  }

  /** Connected components over an edge list: every node's label converges
    * to the smallest id reachable from it — the canonical representative of
    * its duplicate cluster. Hybrid execution: edge lists under
    * `driverMaxEdges` run a driver union-find (see inline comment); larger
    * graphs run iterative min-label propagation below.
    *
    * Each round aggregates the min over {own label, every neighbor's
    * label, own label's label} — the last term is pointer jumping (path
    * halving), which cuts convergence from O(diameter) to O(log diameter)
    * rounds for one extra self-join of the (tiny) label relation. The
    * jump only joins in from round 3: real near-dup graphs are DENSE
    * (clusters converge in 1-2 neighbor rounds, where the extra stage is
    * pure overhead); the logarithmic ramp matters exactly when rounds 1-2
    * did NOT converge — long chains and giant sparse components. Each
    * round's result is eagerly localCheckpoint'ed: without the checkpoint
    * the lineage doubles per round and round k replays rounds 1..k−1.
    * `maxIter` bounds pathological chains — the loop stops early the
    * first round no label changes. Checkpoint blocks are
    * ContextCleaner-reclaimed (not CacheManager-pinned), so repeated
    * invocations don't accumulate session-lifetime cache entries.
    *
    * Output: (id, component) for every node with ≥1 edge; component = min
    * node id of the cluster. Isolated docs need no row — they are their
    * own cluster by definition.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 30,
                          driverMaxEdges: Int = 2000000): DataFrame = {
    // The long-normalization (and the driver fast path it enables) only
    // applies to integral id columns; any other orderable type (string,
    // binary, decimal ids) keeps its native type and takes the distributed
    // min-label loop, where `min` works on every orderable type.
    val integralIds = Seq(srcCol, dstCol).forall { c =>
      edges.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
        case _ => false
      }
    }
    // Non-integral ids must already share one type: the symmetrizing union
    // below is positional, and Spark would otherwise insert a silent common
    // cast (string vs decimal → double, …) that changes label identity.
    if (!integralIds) {
      val (st, dt) = (edges.schema(srcCol).dataType, edges.schema(dstCol).dataType)
      require(st == dt,
        s"connectedComponents: id columns must share one type, got " +
          s"${st.catalogString} vs ${dt.catalogString} — cast both to a common type first")
    }
    val sym =
      if (integralIds)
        edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      else edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // Symmetrize IN-ROW (each edge explodes to itself + its reverse), not
    // via union(sym, sym.swapped): the union form references the edge
    // subtree twice, and Catalyst expands — not dedupes — shared subtrees,
    // so the caller's whole candidate pipeline (tokenize → shingle →
    // bucket → verify at 100 TB) executed twice just to flip two columns.
    // One explode halves every CC caller's upstream work for free.
    // The .distinct() looks redundant (every caller feeds already-distinct
    // (a,b) pairs, so the symmetrized explode is distinct by construction,
    // and CC is edge-multiplicity-invariant anyway) — removing it was
    // MEASURED this round and REVERTED: the driver-path probe below is an
    // executeTake, which ramps through final-stage partitions (1 → 4 → 16
    // → …) and so runs the caller's expensive upstream (d19's linkage
    // verify at sf1: seconds per task) at 1-core parallelism in its first
    // waves — d19 at sf1 went 16.2 → 21.6 s without the exchange. The
    // distinct's shuffle boundary is what lets the upstream run fully
    // parallel exactly once, its map side combines to nearly nothing, and
    // at sf0.1 the cluster family measured identical with or without it.
    val undBase = sym
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
    // Small-graph fast path: a near-dup edge list is orders of magnitude
    // smaller than its corpus (candidates survive banding AND verification),
    // so it routinely fits the driver even when the corpus is 100 TB. Under
    // `driverMaxEdges` (~64 MB of specialized (Long, Long) pairs at the
    // default — collected as a primitive-tuple Dataset, not GenericRows), a
    // driver union-find replaces the iterative join loop: ONE limit-probed
    // collect (which doubles as the size check) instead of O(log d) rounds ×
    // (join + aggregate + checkpoint) jobs — the rounds are pure scheduling
    // overhead at this size. Union-by-min keeps the invariant root = min id
    // of the component, so both paths emit identical labels; graphs above
    // the threshold take the distributed loop below.
    val tryDriver = integralIds && driverMaxEdges > 0 && driverMaxEdges < Int.MaxValue
    val probed: Array[(Long, Long)] =
      if (tryDriver) {
        val spark = edges.sparkSession
        import spark.implicits._
        undBase.as[(Long, Long)].limit(driverMaxEdges + 1).collect()
      } else Array.empty[(Long, Long)]
    if (tryDriver && probed.length <= driverMaxEdges) {
      val parent = new java.util.HashMap[java.lang.Long, java.lang.Long](probed.length * 2 + 16)
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
        r
      }
      probed.foreach { case (a, b) =>
        parent.putIfAbsent(a, a)
        parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      val spark = edges.sparkSession
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      return parent.keySet().asScala.toSeq.map(_.longValue).sorted
        .map(k => (k, find(k))).toDF("id", "label")
    }
    val und = undBase.localCheckpoint(true)
    var labels = und.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val propagated = und.join(labels, und("dst") === labels("id"))
        .select(und("src").as("id"), col("label")) // each neighbor's label
        .union(labels)                             // keep own label
      val withJump =
        if (it < 2) propagated
        else propagated.union( // pointer jump: label-of-label
          labels.select(col("id"), col("label").as("__via"))
            .join(labels.select(col("id").as("__via"), col("label").as("__ll")), "__via")
            .select(col("id"), col("__ll").as("label")))
      val next = withJump
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(true)
      changed = next.join(labels.withColumnRenamed("label", "__old"), "id")
        .filter(col("label") < col("__old")).count()
      labels = next
      it += 1
    }
    labels
  }

  /** Duplicate-cluster size histogram — the dedup telemetry a corpus
    * release reports: how many near-dup families exist at each size
    * (singletons included), i.e. how duplicated the corpus actually is
    * and how much a keep-one-per-cluster pass will remove. Composes
    * [[winnowEdges]] → [[connectedComponents]] like [[canonicalPerCluster]];
    * two further combine-friendly aggregations (component → size,
    * size → count) produce a ≤ max-cluster-size row result.
    */
  def clusterSizeHistogram(df: DataFrame, idCol: String, textCol: String,
                           shingleSize: Int = 3, window: Int = 4,
                           minShared: Int = 2): DataFrame =
    histogramFromLabels(
      clusterLabels(df, idCol, textCol, shingleSize, window, minShared))

  /** Cluster label per document — the labeling stage
    * [[canonicalPerCluster]] and [[clusterSizeHistogram]] share (the
    * singleton-coalesce and id-type subtleties live HERE, once):
    * winnowing edges → connected components → left join back onto the
    * corpus → singletons labeled with their own id. `extraCols` pass
    * through untouched.
    *
    * This is the EXPENSIVE stage (shingling, banding, edge verification,
    * component propagation over the whole corpus). In a real pipeline run
    * it executes once and its output is a materialized artifact every
    * consumer reads — see [[materializeClusters]]; the standalone
    * composed forms below recompute it per call because the oracle
    * harness runs each query self-contained.
    */
  def clusterLabels(df: DataFrame, idCol: String, textCol: String,
                    shingleSize: Int = 3, window: Int = 4, minShared: Int = 2,
                    extraCols: Seq[String] = Nil): DataFrame = {
    val comp = connectedComponents(
      winnowEdges(df, idCol, textCol, shingleSize, window, minShared),
      "id_a", "id_b")
    df.select((idCol +: extraCols).map(col): _*)
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("label"), col(idCol)))
      .drop("label")
  }

  /** [[clusterLabels]] over a PRE-MATERIALIZED token-array column (the
    * single-tokenization face — see [[winnowEdgesFromTokens]]).
    */
  def clusterLabelsFromTokens(df: DataFrame, idCol: String, toksCol: String,
                              shingleSize: Int = 3, window: Int = 4, minShared: Int = 2,
                              extraCols: Seq[String] = Nil): DataFrame = {
    val comp = connectedComponents(
      winnowEdgesFromTokens(df, idCol, toksCol, shingleSize, window, minShared),
      "id_a", "id_b")
    df.select((idCol +: extraCols).map(col): _*)
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("label"), col(idCol)))
      .drop("label")
  }

  /** Compute [[clusterLabels]] ONCE and persist it as a table the other
    * cluster consumers ([[canonicalFromLabels]], [[histogramFromLabels]],
    * [[membersFromLabels]], canonical filtering) read — the
    * persist-once/consume-many face: at 100 TB the winnow→CC pass is hours
    * of work and telemetry, selection, and filtering must not each re-run
    * it. Returns the labels as read back from the store (plan lineage
    * truncated to a parquet scan).
    */
  def materializeClusters(store: graft.chain.TableStore, df: DataFrame,
                          idCol: String, textCol: String,
                          table: String = "dup_clusters",
                          shingleSize: Int = 3, window: Int = 4,
                          minShared: Int = 2,
                          extraCols: Seq[String] = Nil): DataFrame = {
    store.replace(table,
      clusterLabels(df, idCol, textCol, shingleSize, window, minShared, extraCols))
    store.readOr(table, null)
  }

  /** Edge-connected cluster members from a labels artifact — the d6 shape:
    * docs whose component has ≥ 2 members (singletons excluded).
    */
  def membersFromLabels(labeled: DataFrame, idCol: String): DataFrame = {
    val sizes = labeled.groupBy("component").agg(count(lit(1)).as("__sz"))
    labeled.join(sizes.filter(col("__sz") >= 2).select("component"), Seq("component"))
      .select(col(idCol), col("component"))
  }

  /** [[canonicalPerCluster]]'s selection stage over a labels artifact:
    * one min-struct aggregation per cluster (identical arithmetic and
    * null/NaN contract — see [[canonicalPerCluster]]).
    */
  def canonicalFromLabels(labeled: DataFrame, idCol: String,
                          qualityCol: String): DataFrame = {
    require(labeled.schema(qualityCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"qualityCol '$qualityCol' must be numeric (it is a score); ids may be any orderable type")
    val qd = col(qualityCol).cast("decimal(38,6)") // exact for integrals; NaN → null
    val reps = labeled.groupBy("component")
      .agg(min(struct(
        when(qd.isNull, lit(1)).otherwise(lit(0)).as("unscored"),
        (-qd).as("nq"), col(idCol).as("i"))).as("__best"))
      .select(col("component"), col("__best.i").as("rep_id"))
    labeled.join(reps, Seq("component"))
      .select(col(idCol), col("component"), col("rep_id"),
        (col(idCol) === col("rep_id")).cast("int").as("is_canonical"))
  }

  /** [[clusterSizeHistogram]]'s aggregation stage over a labels artifact. */
  def histogramFromLabels(labeled: DataFrame): DataFrame =
    labeled.groupBy("component").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))

  /** The d9 chunking kernel: (id, chunk index, chunk md5) — one row per
    * fixed `chunkTokens`-token window (remainder kept as a short tail).
    * Shared by the batch [[chunkDedup]] and the streaming face
    * (streaming.StreamingText.processChunkBatch). */
  def chunkHashes(df: DataFrame, idCol: String, textCol: String,
                  chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    // An empty token array yields zero chunks, explicitly: Spark's DIV
    // truncates toward zero ((0-1) DIV n = 0 → one md5("") chunk) while a
    // floor-division oracle yields none. TextOps.tokens never returns an
    // empty array, but a caller with a different tokenizer shouldn't
    // inherit that divergence.
    df.select(col(idCol), TextOps.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= 1)
      .select(col(idCol), posexplode(expr(
        s"""transform(sequence(0, CAST((size(__t) - 1) DIV $chunkTokens AS INT)),
           |  i -> array_join(slice(__t, i * $chunkTokens + 1, $chunkTokens), ' '))"""
          .stripMargin)).as(Seq("__ci", "__chunk")))
      .select(col(idCol), col("__ci"), md5(col("__chunk")).as("__h"))
  }

  /** Sub-document (chunk-level) exact dedup: each document splits into
    * fixed windows of `chunkTokens` tokens (remainder kept as a short
    * tail chunk), chunks hash, and a chunk counts as a DUPLICATE when the
    * same hash first occurred earlier in corpus order (earlier doc id, or
    * earlier chunk index within the same doc) — the keep-first-occurrence
    * policy boilerplate stripping uses when whole-doc dedup is too coarse
    * (headers, licenses, navigation chrome repeat across otherwise-unique
    * pages).
    *
    * Scale shape: NO window over the hash key and NO self-join. A chunk
    * repeated a billion times (site boilerplate at 100 TB) would make one
    * window partition or join bucket quadratic-hot; instead the first
    * occurrence per hash is `min(struct(doc, idx))` — a hash aggregation
    * with map-side partial combine, skew-immune — and per-doc duplicate
    * counts are (total chunks) − (chunks that ARE a first occurrence),
    * two more combine-friendly aggregations. Nothing ever holds a
    * per-hash row list.
    *
    * Output: (id, n_chunks, dup_chunks, dup_fraction) per document.
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int = 16): DataFrame = {
    // materialized: the (id, idx, hash) chunk relation feeds BOTH the
    // per-doc totals and the first-occurrence rollup — without the
    // checkpoint each consumer re-ran the tokenize+chunk+md5 corpus pass.
    // Size-valved (Materialize.pivot): past the byte threshold the plan
    // stays lazy instead of writing a corpus-rows relation to
    // non-replayable executor storage.
    val chunks = Materialize.pivot(chunkHashes(df, idCol, textCol, chunkTokens))
    val totals = chunks.groupBy(col(idCol)).agg(count(lit(1)).as("n_chunks"))
    val uniques = chunks
      .groupBy("__h")
      .agg(min(struct(col(idCol).as("i"), col("__ci").as("c"))).as("__first"))
      .groupBy(col("__first.i").as(idCol))
      .agg(count(lit(1)).as("__uniq"))
    totals.join(uniques, Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"),
        (col("n_chunks") - coalesce(col("__uniq"), lit(0L))).as("dup_chunks"))
      .withColumn("dup_fraction",
        round(col("dup_chunks").cast("double") / col("n_chunks").cast("double"), 6))
  }

  /** Chunk-level dedup's REWRITE face — the operator that actually
    * produces the cleaned corpus (chunkDedup only reports the fractions):
    * every `chunkTokens`-token window that is NOT the corpus-wide first
    * occurrence of its hash (earlier doc id, or earlier offset within the
    * same doc) is REMOVED, and the surviving chunks rejoin in order —
    * sub-document boilerplate (headers, licenses, navigation chrome)
    * disappears while each page's unique content stays.
    *
    * Scale shape: first-occurrence is the same skew-immune `min(struct)`
    * hash aggregation as [[chunkDedup]] (one row per distinct hash on the
    * build side), the keep test is a hash equi-join of the chunk relation
    * against it (each hash appears once on the build side — no quadratic
    * bucket even under billion-fold repetition), and the per-doc keep
    * DECISION aggregates to a bounded int array (≤ the doc's own chunk
    * count). The chunk TEXT never enters the materialized relation, any
    * exchange, or any aggregation buffer: the decision pass works on
    * (id, idx, hash) rows only (§"shuffle keys, not payloads"), and the
    * cleaned text re-derives IN-ROW by re-slicing the doc's token array
    * against the kept indexes — one more corpus text scan in exchange for
    * corpus-width strings staying out of executor-storage checkpoints and
    * out of two corpus-keyed shuffles.
    *
    * Output: (id, n_chunks, n_kept, clean_text) — docs whose every chunk
    * is a duplicate keep an EMPTY clean_text row (counted, not dropped).
    */
  def chunkClean(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int = 16): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    // materialized: feeds BOTH the first-occurrence rollup and the
    // keep-test join — one tokenize+chunk+md5 pass instead of two. The
    // payload is hashes and ints ONLY (no chunk strings — see scaladoc),
    // and size-valved like chunkDedup's.
    val chunks = Materialize.pivot(chunkHashes(df, idCol, textCol, chunkTokens))
    val firsts = chunks
      .groupBy("__h")
      .agg(min(struct(col(idCol).as("i"), col("__ci").as("c"))).as("__first"))
    val kept = chunks.join(firsts, Seq("__h"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sort_array(collect_list(
          when(col("__first.i") === col(idCol) && col("__first.c") === col("__ci"),
            col("__ci")))).as("__keep"))
    df.select(col(idCol), TextOps.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= 1)
      .join(kept, Seq(idCol))
      .select(col(idCol), col("n_chunks"),
        size(col("__keep")).cast("long").as("n_kept"),
        array_join(transform(col("__keep"), ci =>
          array_join(slice(col("__t"), ci * lit(chunkTokens) + lit(1), lit(chunkTokens)), " ")),
          " ").as("clean_text"))
  }

  /** Canonical-representative selection — the step AFTER clustering that
    * actually dedups the corpus: every document maps to its duplicate
    * cluster ([[winnowEdges]] → [[connectedComponents]]; isolated docs are
    * their own singleton cluster), and each cluster keeps exactly one
    * representative — the highest `qualityCol`, ties to the smallest id —
    * so the downstream pipeline filters `is_canonical = 1` and trains on
    * one copy of every near-dup family, keeping the best-quality copy
    * rather than an arbitrary one.
    *
    * Scale shape: the representative is ONE combine-friendly aggregation
    * on the cluster key — `min(struct(unscored, −quality, id))` gives max
    * quality with ties to the smallest id. Quality normalizes to
    * DECIMAL(38,6) first, so the negation can neither overflow (an
    * integral MinValue negates exactly in decimal) nor be perturbed by
    * NaN (which casts to null and ranks as unscored, losing to every
    * scored doc — an all-null cluster falls back to min id). The id is
    * never touched arithmetically, so string and binary ids (which
    * [[connectedComponents]] supports) keep working. Contract: quality is
    * numeric (enforced) and compared at 6-decimal granularity.
    */
  def canonicalPerCluster(df: DataFrame, idCol: String, textCol: String,
                          qualityCol: String,
                          shingleSize: Int = 3, window: Int = 4,
                          minShared: Int = 2): DataFrame =
    canonicalFromLabels(
      clusterLabels(df, idCol, textCol, shingleSize, window, minShared,
        extraCols = Seq(qualityCol)),
      idCol, qualityCol)

  /** Asymmetric CONTAINMENT detection — the near-dup relation Jaccard
    * misses: a short document quoted wholesale inside a long one has low
    * Jaccard (the union is large) but containment |A∩B| / |A| ≈ 1, and a
    * keep-the-superset dedup policy needs exactly that direction. Broder's
    * containment measure over k-shingle sets.
    *
    * Scale shape: the candidate stage is the same bucket-groupBy pair
    * expansion every near-dup family here uses (shingles explode →
    * groupBy shingle → in-bucket ordered pairs, `maxBucket` valve) — the
    * all-pairs join never materializes; per-pair shared counts and the
    * per-doc distinct-shingle sizes are combine-friendly aggregations.
    * Emits both directions' containment for each candidate pair with
    * shared ≥ `minShared`.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3, minShared: Int = 2,
                       threshold: Double = 0.5,
                       maxBucket: Option[Int] = Some(DefaultMaxBucket),
                       persistIntermediates: Boolean = true): DataFrame = {
    // Per-doc DISTINCT shingle-hash arrays, materialized once (the
    // minHashLshNearDups persistIntermediates discipline). The old shape
    // exploded and `.distinct()`ed a corpus-sized (id, hash) relation that
    // three consumers (sizes, the gate count, the gated rows) each
    // re-derived — three tokenize+md5 corpus passes plus a corpus-wide
    // distinct SHUFFLE. array_distinct is in-row (set semantics per doc,
    // identical to the relation-level distinct on (id, hash)), sizes
    // become a free size() projection, and the shuffle disappears.
    val sets = Materialize.pivot(df
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        array_distinct(TextOps.shingleHashArray(col("__toks"), shingleSize)).as("__set")),
      persistIntermediates)
    val sh = sets.select(col(idCol), explode(col("__set")).as("sh"))
    val sizes = sets.select(col(idCol), size(col("__set")).cast("long").as("__sz"))
    val buckets = gatedBuckets(sh, Seq("sh"), col(idCol), maxBucket)
    val shared = buckets
      .select(explode(orderedPairs(col("__ids"))).as("__p"))
      .select(col("__p.a").as("id_a"), col("__p.b").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    // sizes is CORPUS-sized (one row per doc) — never broadcast it; the
    // bucket-bounded candidate relation is the small side of both joins
    // and AQE picks the build side accordingly
    shared
      .join(sizes.select(col(idCol).as("id_a"), col("__sz").as("size_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("__sz").as("size_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("shared"), col("size_a"), col("size_b"),
        round(col("shared").cast("double") / col("size_a").cast("double"), 6).as("containment_a"),
        round(col("shared").cast("double") / col("size_b").cast("double"), 6).as("containment_b"))
      .filter(col("containment_a") >= threshold || col("containment_b") >= threshold)
  }

  /** Semantic deduplication in embedding space (the SemDeDup recipe,
    * Abbas et al. 2023): assign every vector to its nearest coarse
    * centroid, compare pairs only WITHIN a cell, and drop any vector that
    * has a same-cell neighbor with smaller id and cosine ≥ `tau` (the
    * deterministic keep-lowest-id representative rule — chains collapse to
    * their minimum because every later member is dominated by it or by an
    * earlier dup of it). Complements the lexical near-dup family (d2–d6):
    * paraphrases and re-encodings share no shingles but sit together in
    * embedding space.
    *
    * Scale shape: assignment is the broadcast-centroid corpus pass of
    * [[Similarity.assignToCentroids]]; the pairwise stage is an equi-join
    * on centroid_id, so the quadratic term is bounded by the LARGEST CELL,
    * not the corpus — the centroid count is the first valve (size it
    * ~N/10⁴ so cells hold ~10⁴ vectors; SemDeDup runs exactly this shape at
    * billion-vector scale). `maxCell` is the second, DEGENERATE-cell valve:
    * a pathological centroid set (e.g. a zero-vector mass all assigned to
    * one centroid) silently makes one cell corpus-sized and the equi-join
    * quadratic. Cells above `maxCell` are split into ⌈size/maxCell⌉
    * deterministic salt groups (xxhash64 of the id) and pairs compare only
    * within a salt group — work becomes linear·maxCell instead of
    * quadratic, at the cost of missing cross-group pairs inside the
    * oversized cell (the same recall-for-boundedness trade every hot-bucket
    * valve here makes; a cell that big means the centroids need re-fitting
    * anyway). Cells at or under `maxCell` — every cell at sane centroid
    * sizing — are byte-identical to the unguarded form. Cell sizes are the
    * s16 postingListStats count, broadcast (one row per centroid).
    *
    * Returns (id, centroid_id, is_kept 1|0).
    */
  def semanticDedup(df: DataFrame, centroids: DataFrame,
                    idCol: String, vecCol: String, tau: Double,
                    maxCell: Option[Int] = Some(DefaultMaxCell),
                    persistIntermediates: Boolean = true): DataFrame = {
    // three consumers (both pairwise sides + the output) — materialize the
    // assignment once (eager localCheckpoint, the clusterLabels
    // discipline: no session-lifetime cache entry, lineage cut) instead of
    // re-running the broadcast-centroid corpus pass per consumer.
    // valve = false: the broadcast-join upstream defeats the size estimate
    val posted = Materialize.pivot(
      Similarity.assignToCentroids(df, centroids, idCol, vecCol),
      persistIntermediates, valve = false)
    val salted = maxCell match {
      case None => posted.withColumn("__salt", lit(0L))
      case Some(m) =>
        val cellSizes = posted.groupBy("centroid_id").agg(count(lit(1)).as("__cellsz"))
        posted.join(broadcast(cellSizes), Seq("centroid_id"))
          .withColumn("__salt",
            when(col("__cellsz") <= m, lit(0L))
              .otherwise(pmod(xxhash64(col(idCol)),
                ceil(col("__cellsz").cast("double") / m).cast("long"))))
          .drop("__cellsz")
    }
    val a = salted.select(col("centroid_id"), col("__salt"),
      col(idCol).as("__ida"), col(vecCol).as("__va"))
    val b = salted.select(col("centroid_id"), col("__salt"),
      col(idCol).as("__idb"), col(vecCol).as("__vb"))
    val dominated = a.join(b, Seq("centroid_id", "__salt"))
      .filter(col("__ida") < col("__idb"))
      .filter(round(Similarity.cosine(col("__va"), col("__vb")), 6) >= tau)
      .select(col("__idb").as(idCol)).distinct()
    posted.select(col(idCol), col("centroid_id"))
      .join(dominated.withColumn("__dup", lit(1)), Seq(idCol), "left")
      .select(col(idCol), col("centroid_id"),
        when(col("__dup").isNull, 1).otherwise(0).cast("int").as("is_kept"))
  }

  /** WITHIN-document repeated-span coverage — [[dupSpanCoverage]]'s
    * self-repetition twin (Lee et al. dedup both across AND within
    * documents): the fraction of a document's characters covered by a
    * length-`k` window whose content already occurred EARLIER in the same
    * document — decoder loops, copy-pasted paragraphs, chorus repetition.
    * t7's repetition ratios see token-level repetition rates; this sees
    * exactly WHERE and HOW MUCH of the byte stream is literal re-run.
    *
    * Scale shape: the metric is doc-local end to end, so it computes
    * IN-ROW over the per-doc gram array — zero shuffles, O(docs) rows, a
    * pure map over the corpus scan; a gram repeated across a billion docs
    * costs nothing here (that's d15's job). First occurrence falls out of
    * one in-row lexicographic (hash, pos) sort; the repeat spans merge via
    * the same gaps-and-islands arithmetic as d15, as a left-to-right fold.
    *
    * Output: (id, n_repeat_grams, covered_chars, self_rep_fraction).
    */
  def selfRepetitionCoverage(df: DataFrame, idCol: String, textCol: String,
                             k: Int = 20): DataFrame = {
    require(k > 0, "k must be positive")
    // Fully IN-ROW: the whole metric is doc-local (d15 owns the cross-doc
    // face), so nothing here ever needs a shuffle — the previous shape
    // exploded every char position into a row and paid two doc-keyed
    // window Exchanges + sorts + a rejoin for what one pass over the doc
    // computes. Zero Exchanges, O(docs) rows end to end. The pass itself
    // is the native kernel [[graft.functions.SelfRepStats]] (one hash-set
    // sweep; positions arrive ascending so the gaps-and-islands merge
    // folds inline) — a declarative in-row form (array_sort over
    // (hash, pos) structs + HOF folds) was measured 35% SLOWER than even
    // the old window shape at sf1 (interpreted struct comparator per
    // gram) and replaced; semantics are pinned branch-for-branch in the
    // kernel's scaladoc and SelfRepStatsSpec.
    df.select(col(idCol), col(textCol).as("__txt"))
      .withColumn("__s", graft.functions.SelfRepStats(col("__txt"), k))
      .select(col(idCol),
        col("__s.n_repeat_grams").as("n_repeat_grams"),
        col("__s.covered_chars").as("covered_chars"),
        round(col("__s.covered_chars").cast("double") /
          greatest(length(col("__txt")).cast("long"), lit(1L)).cast("double"), 6)
          .as("self_rep_fraction"))
  }

  /** Exact duplicated-SPAN coverage — the substring-level dedup metric from
    * Lee et al., "Deduplicating Training Data Makes Language Models Better"
    * (arXiv:2107.06499): the fraction of each document's CHARACTERS covered
    * by some length-`k` character window that also occurs in another
    * document. Chunk dedup ([[chunkDedup]]) sees only aligned token
    * windows; this sees every character offset, so a license block pasted
    * mid-sentence counts even when no chunk boundary lines up with it.
    *
    * Scale shape (the suffix-array paper's result, as three shuffles):
    * (1) every k-gram hashes (`xxhash64`, codegen'd — raw 8-byte keys, the
    * gram STRINGS never shuffle); cross-doc frequency is a combine-friendly
    * count over per-doc-distinct hashes — no per-hash row list, so a
    * boilerplate gram repeated a billion times costs one partial per map
    * task. (2) positions semi-join the shared-hash set on the hash key —
    * each hash occurs once on the build side, no multiplication. (3) the
    * per-doc gaps-and-islands merge of overlapping [pos, pos+k) spans is
    * two windows over ONE sort on (doc, pos) — covered chars = Σ island
    * extents, never materializing per-character rows.
    *
    * Collision tradeoff: "same gram" is keyed on the 64-bit xxhash64, not
    * the string, so two DIFFERENT grams colliding count as shared. At test
    * scale factors collisions are absent (the DuckDB oracle compares the
    * same construction); at the billions-of-grams scale this targets,
    * expected collisions exceed zero and the fraction is biased up by
    * ~n²·2⁻⁶⁵ grams — accepted, because shipping the gram STRINGS through
    * the shuffle costs ~k× the IO, and a false "shared" span only inflates
    * coverage by ≤ k chars. Salt with a second independent hash if an
    * application needs collision odds below that.
    *
    * Output: (id, n_shared_grams, covered_chars, dup_span_fraction ∈ [0,1])
    * per input document — docs below length `k`, or sharing nothing, report
    * zeros.
    */
  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 20): DataFrame = {
    require(k > 0, "k must be positive")
    val base = df
      .select(col(idCol), col(textCol).as("__txt"))
      .filter(length(col("__txt")) >= k)
    val harr =
      expr(s"transform(sequence(1, length(__txt) - ${k - 1}), i -> xxhash64(substring(__txt, i, $k)))")
    val grams = base
      .select(col(idCol), posexplode(harr).as(Seq("__pos", "__h")))
    // cross-doc frequency over per-doc-DISTINCT grams; keep hashes seen in
    // ≥2 docs. The per-doc dedup is an IN-ROW array_distinct (identical to
    // the old relation-level `.distinct()` on (id, hash) — each hash
    // counts once per doc either way), so the corpus-sized distinct
    // EXCHANGE this stage used to pay is gone; only the (hash, count)
    // aggregation shuffles, with map-side combine.
    val shared = base
      .select(explode(array_distinct(harr)).as("__h"))
      .groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
      .select("__h")
    val hits = grams.join(shared, Seq("__h"), "left_semi")
      .select(col(idCol), col("__pos"), (col("__pos") + k).as("__end"))
    // gaps-and-islands over [pos, pos+k): an island starts where pos exceeds
    // the running max end of all earlier spans (same sort key both windows)
    val wOrd   = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val prevMax = max(col("__end")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val islands = hits
      .withColumn("__brk", when(prevMax.isNull || col("__pos") > prevMax, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perDoc = islands
      .groupBy(col(idCol), col("__isl"))
      .agg(count(lit(1)).as("__n"), (max(col("__end")) - min(col("__pos"))).as("__extent"))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_shared_grams"), sum(col("__extent")).as("covered_chars"))
    df.select(col(idCol), length(col(textCol)).cast("long").as("__len"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        coalesce(col("covered_chars"), lit(0L)).as("covered_chars"),
        round(coalesce(col("covered_chars"), lit(0L)).cast("double") /
          greatest(col("__len"), lit(1L)).cast("double"), 6).as("dup_span_fraction"))
  }

  /** Blocked record linkage (d18): pairs of documents whose normalized key
    * (lowercased, non-ASCII-stripped first `keyLen` chars) is
    * Jaro-Winkler-similar ≥ `threshold` — the entity-resolution primitive
    * (Fellegi-Sunter blocking + edit-similarity verify) over the same
    * count-gated candidate machinery as the LSH stages.
    *
    * Blocking: each key emits ⌈keyLen/sliceLen⌉ ALIGNED slices
    * (slot i → chars [i·sliceLen, (i+1)·sliceLen)); two records become a
    * candidate pair when any slot's slice matches exactly. An edit
    * anywhere perturbs at most its own slot, so records within one
    * slice-local edit of each other always share the other slots — the
    * multi-pass blocking-key discipline, with recall bounded the way every
    * production linkage run bounds it (a pair differing in EVERY slot is
    * not found; the oracle mirrors the same blocking, so the contract is
    * exact).
    *
    * Scale shape: slices shuffle as (slot, xxhash64) 12-byte keys — the
    * key STRINGS never leave the scan (the d15 discipline, same
    * deterministic-collision tradeoff documented there); buckets are
    * count-gated through [[candidatePairs]] so a degenerate key (every
    * record opening with the same boilerplate) drops at `maxBucket`
    * instead of expanding quadratically; the verify joins the corpus-sized
    * key relation twice by id (never broadcast) and runs the native
    * codegen'd [[graft.functions.JaroWinklerExpr]] once per candidate.
    */
  def recordLinkage(df: DataFrame, idCol: String, textCol: String,
                    keyLen: Int = 32, sliceLen: Int = 8,
                    threshold: Double = 0.9,
                    maxBucket: Option[Int] = Some(DefaultMaxBucket),
                    persistIntermediates: Boolean = true): DataFrame = {
    require(keyLen > 0 && sliceLen > 0, "keyLen and sliceLen must be positive")
    val nSlices = (keyLen + sliceLen - 1) / sliceLen
    // materialized (id + ≤keyLen chars per row): the normalized-key
    // projection (regex per row over the corpus) has three consumers —
    // the slice blocking and both verify joins — and re-ran per consumer
    val keys = Materialize.pivot(
      df.select(col(idCol),
        regexp_replace(lower(substring(col(textCol), 1, keyLen)),
          "[^\\x20-\\x7e]", "").as("__key")),
      persistIntermediates)
    val slices = keys
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, ${nSlices - 1}), i -> substring(__key, 1 + i * $sliceLen, $sliceLen))"))
        .as(Seq("band", "__sl")))
      .filter(length(col("__sl")) > 0)
      .select(col(idCol), col("band"), xxhash64(col("__sl")).as("band_hash"))
    val pairs = candidatePairs(slices, idCol, maxBucket)
    val keyed = keys.select(col(idCol).as("__vid"), col("__key"))
    pairs
      .join(keyed, pairs("id_a") === keyed("__vid"))
      .withColumnRenamed("__key", "__key_a").drop("__vid")
      .join(keyed, col("id_b") === keyed("__vid"))
      .withColumnRenamed("__key", "__key_b").drop("__vid")
      .withColumn("jw",
        round(graft.functions.JaroWinkler.jaroWinkler(col("__key_a"), col("__key_b")), 6))
      .filter(col("jw") >= threshold)
      .select("id_a", "id_b", "jw")
  }

  /** Cluster-quality audit (d20): per multi-member winnow cluster, the
    * VERIFIED shingle-Jaccard between each member and the cluster's
    * min-id representative — the release-report telemetry that catches a
    * drifting near-dup pipeline (a falling min/mean says the candidate
    * machinery is admitting unrelated docs; d11 counts clusters, this
    * grades them). Star pairs against the representative, never
    * all-pairs: a cluster of n costs n−1 verifications, so the audit is
    * linear in corpus dup mass at any scale. Jaccards round at 6 and the
    * mean sums as DECIMAL (the t11 discipline).
    *
    * Columns: `component`, `n_members`, `min_jaccard`, `mean_jaccard`.
    */
  def clusterQuality(df: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int = 3, window: Int = 4,
                     minShared: Int = 2): DataFrame = {
    val labeled = clusterLabels(df, idCol, textCol, shingleSize, window, minShared)
    val pairs = membersFromLabels(labeled, idCol)
      .filter(col(idCol) =!= col("component"))
      .select(col("component").as("id_a"), col(idCol).as("id_b"))
    val j6 = round(col("jaccard"), 6)
    verifyJaccard(df, pairs, idCol, textCol, shingleSize)
      .select(col("id_a").as("component"), j6.as("__j"))
      .groupBy("component")
      .agg((count(lit(1)) + 1L).as("n_members"),
        min(col("__j")).as("min_jaccard"),
        round(sum(col("__j").cast("decimal(18,6)")).cast("double")
          / count(lit(1)).cast("double"), 6).as("mean_jaccard"))
  }

  /** Entity resolution (d19): the [[recordLinkage]] pair graph closed into
    * entities — transitive closure via [[connectedComponents]] (min-id
    * label), every document labeled (non-linked docs are their own
    * entity, the [[clusterLabels]] singleton-coalesce), entity size
    * attached, and the min-id member flagged canonical. The d10 cluster
    * construction applied to the linkage graph: the output is the
    * master-record table a downstream pipeline joins on.
    */
  def resolveEntities(df: DataFrame, idCol: String, textCol: String,
                      keyLen: Int = 32, sliceLen: Int = 8,
                      threshold: Double = 0.9,
                      maxBucket: Option[Int] = Some(DefaultMaxBucket)): DataFrame =
    resolveEntitiesFromPairs(df,
      recordLinkage(df, idCol, textCol, keyLen, sliceLen, threshold, maxBucket),
      idCol)

  /** [[resolveEntities]]'s closure stage over an ALREADY-COMPUTED pair
    * relation (from [[recordLinkage]] live, or [[materializeLinkage]]'s
    * persisted artifact): CC, min-id entity label, singleton coalesce,
    * sizes, canonical flag. The expensive stage is the blocking+verify
    * pass that produced the pairs — at 100 TB it runs once and every
    * downstream consumer (this closure, audits, merges) reads the
    * artifact, the [[materializeClusters]] discipline applied to
    * linkage.
    */
  def resolveEntitiesFromPairs(df: DataFrame, pairs: DataFrame,
                               idCol: String): DataFrame = {
    val comp = connectedComponents(pairs.select("id_a", "id_b"), "id_a", "id_b")
    val labeled = df.select(col(idCol))
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("entity_id", coalesce(col("label"), col(idCol)))
      .drop("label")
    val sizes = labeled.groupBy("entity_id").agg(count(lit(1)).as("entity_size"))
    labeled.join(sizes, "entity_id")
      .select(col(idCol), col("entity_id"), col("entity_size"),
        when(col(idCol) === col("entity_id"), 1).otherwise(0)
          .cast("int").as("is_canonical"))
  }

  /** Compute [[recordLinkage]] ONCE and persist the verified pair graph
    * as a table every linkage consumer reads — the persist-once face
    * (see [[materializeClusters]] for the rationale at scale).
    */
  def materializeLinkage(store: graft.chain.TableStore, df: DataFrame,
                         idCol: String, textCol: String,
                         table: String = "linkage_pairs",
                         keyLen: Int = 32, sliceLen: Int = 8,
                         threshold: Double = 0.9,
                         maxBucket: Option[Int] = Some(DefaultMaxBucket)): DataFrame = {
    store.replace(table,
      recordLinkage(df, idCol, textCol, keyLen, sliceLen, threshold, maxBucket))
    store.readOr(table, null)
  }
}
