package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting. All pure
  * column expressions (whole-stage-codegen friendly, no UDFs) so they
  * vectorize across a 100 TB corpus without serialization overhead.
  */
object TextOps {

  /** Construction-site counter for [[tokens]] — incremented once per
    * CALL while a plan is being BUILT (not per row, not per execution).
    * ReleasePipelineSpec reads it around the composed release-pipeline
    * build to assert the single-tokenization contract: the number of
    * tokenization sites in the DAG equals the number of distinct working
    * strings, so no stage silently re-tokenizes text a prior stage
    * already tokenized (the column-contract bug class composition
    * exists to catch). Negligible cost: one atomic add per plan-build.
    */
  private[graft] val tokenizeSites = new java.util.concurrent.atomic.AtomicLong

  /** Whitespace tokenization (the "whitespace + BPE-ish regex" baseline). */
  def tokens(text: Column): Column = {
    tokenizeSites.incrementAndGet()
    split(trim(text), "\\s+")
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  /** One distributed BPE-trainer step: corpus-wide adjacent character-pair
    * frequencies, the argmax of which is the next merge rule (Sennrich
    * et al.'s algorithm in map-reduce form — the text counterpart of
    * `Similarity.kmeansStep` for quantizer training).
    *
    * Scale shape: the corpus FIRST collapses to a word-frequency
    * vocabulary (orders of magnitude smaller than the corpus — this
    * aggregation map-side combines), and pairs then explode over DISTINCT
    * words only, weighted by frequency. Exploding pairs straight off the
    * corpus would shuffle O(total characters) rows; this shuffles
    * O(|vocab| · word length).
    */
  def bpePairCounts(docs: DataFrame, textCol: Column): DataFrame = {
    val vocab = docs.select(explode(tokens(textCol)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    vocab.filter(length(col("w")) >= 2)
      .select(col("freq"),
        explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
      .groupBy("pair").agg(sum("freq").as("pair_freq"))
  }

  /** The full BPE training loop — [[bpePairCounts]] is one step of this.
    * The corpus collapses ONCE to the word-frequency vocabulary; each of
    * the `nMerges` rounds counts adjacent symbol pairs over the DISTINCT
    * words (weighted by frequency, map-side combined), takes the argmax
    * (ties: lexicographic, so the rule sequence is deterministic), and
    * applies the merge to the vocab with a greedy leftmost fold — all
    * O(|vocab|) column work per round; the corpus is never re-read and
    * the only driver traffic is ONE argmax row per round. Per-round
    * localCheckpoint truncates the compounding lineage, the
    * connectedComponents discipline.
    *
    * Returns the learned merge rules in order: (step, lhs, rhs,
    * pair_freq). Symbols never contain the pair separator because they
    * are built from concatenation of single characters.
    */
  def bpeTrain(docs: DataFrame, textCol: Column, nMerges: Int): Seq[(Int, String, String, Long)] = {
    require(nMerges > 0, "nMerges must be positive")
    var vocab = docs.select(explode(tokens(textCol)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val best = vocab.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> named_struct('a', element_at(syms, i), 'b', element_at(syms, i + 1)))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("pf"))
        .orderBy(col("pf").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, pf) = (best.head.getString(0), best.head.getString(1), best.head.getLong(2))
        merges += ((step, a, b, pf))
        val (aL, bL) = (lit(a), lit(b))
        vocab = vocab.select(col("freq"),
          aggregate(col("syms"), array().cast("array<string>"), (acc, s) =>
            when(size(acc) > 0 && element_at(acc, -1) === aL && s === bL,
              concat(slice(acc, lit(1), size(acc) - 1), array(concat_ws("", aL, bL))))
              .otherwise(concat(acc, array(s)))).as("syms"))
          .localCheckpoint(true)
        step += 1
      }
    }
    merges.result()
  }

  /** Greedy leftmost application of ONE merge rule to a symbol array —
    * the same single-pass fold [[bpeTrain]] uses to update its vocab
    * (train and apply MUST share the fold, or applied token counts drift
    * from the statistics the rules were learned on). A merge of rule
    * (a, b) can never create a fresh (a, b) adjacency — the merged symbol
    * is strictly longer than either side — so one left-to-right pass is
    * exhaustive.
    */
  private def applyMergeFold(syms: Column, a: String, b: String): Column = {
    val (aL, bL) = (lit(a), lit(b))
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === aL && s === bL,
        concat(slice(acc, lit(1), size(acc) - 1), array(concat_ws("", aL, bL))))
        .otherwise(concat(acc, array(s))))
  }

  /** The tokenizer lifecycle's APPLY face — [[bpeTrain]] learns the merge
    * rules, this encodes the corpus under them: per document, the word
    * count and the BPE token count after `nMerges` learned merges (the
    * number an LLM data pipeline actually budgets by), plus tokens/word.
    *
    * Scale shape: the rules are a driver-side literal list (one argmax row
    * per training round), so applying them is `nMerges` nested column
    * folds over the DISTINCT-word vocabulary — orders of magnitude smaller
    * than the corpus, the [[bpePairCounts]] discipline — and the corpus
    * only pays a word-keyed join of (word → symbol count) back onto its
    * per-(doc, word) counts (AQE broadcasts the vocab side when it fits).
    * The corpus text is scanned twice (once training, once counting),
    * never per rule.
    */
  def bpeApplyCounts(docs: DataFrame, idCol: String, textCol: Column,
                     nMerges: Int,
                     persistIntermediates: Boolean = true): DataFrame = {
    val rules = bpeTrain(docs, textCol, nMerges)
    // materialized: wc feeds BOTH the distinct-word vocab and the final
    // scoring join — without the checkpoint each consumer re-ran the
    // tokenize+explode corpus pass (the bigramLogProb discipline).
    // (bpeTrain's own per-round checkpoints are NOT threaded: its rounds
    // collect an argmax to the driver anyway — construction is inherently
    // eager — and the checkpoint is what stops round k's plan replaying
    // rounds 1..k−1.)
    val wc = graft.operators.Materialize.pivot(
      docs.select(col(idCol), explode(tokens(textCol)).as("w"))
        .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("n")),
      persistIntermediates)
    val vocab = wc.select("w").distinct()
      .withColumn("syms", expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
    val applied = rules.foldLeft(vocab) { case (v, (_, a, b, _)) =>
      v.select(col("w"), applyMergeFold(col("syms"), a, b).as("syms"))
    }
    val wordTok = applied.select(col("w"), size(col("syms")).cast("long").as("n_sym"))
    wc.join(wordTok, Seq("w"))
      .groupBy(col(idCol))
      .agg(sum("n").as("n_words"),
        sum(col("n") * col("n_sym")).as("n_bpe_tokens"))
      .withColumn("tokens_per_word",
        round(col("n_bpe_tokens").cast("double") / col("n_words").cast("double"), 6))
  }

  /** Word n-gram shingles over a PRE-MATERIALIZED token-array column.
    * The lambda references the array via `size`/`slice`, which is O(1) on a
    * bound attribute — always project `tokens(text)` into a column first in
    * hot paths: passing the raw `tokens(text)` expression here would
    * re-evaluate the regexp split per array element (quadratic per row).
    * (A native doGenCode kernel for this chain was built and MEASURED in
    * round 17: 0.036 s declarative vs 0.049 s native
    * per corpus pass at sf0.1 — the interpreted-HOF overhead is smaller
    * than the byte-copying a JVM-side md5 loop pays, so the declarative
    * form stays.)
    */
  def shinglesOfTokens(toks: Column, n: Int): Column =
    filter(
      transform(toks, (_, i) => when(i <= size(toks) - n,
        concat_ws(" ", slice(toks, i + 1, lit(n))))),
      x => x.isNotNull)

  /** Word n-gram shingles: ["a b c", "b c d", ...] for n=3. Convenience
    * form for small inputs — for scans over large corpora use the two-step
    * `tokens` → `shinglesOfTokens` (see that method's warning).
    */
  def shingles(text: Column, n: Int): Column =
    shinglesOfTokens(tokens(text), n)

  /** Normalized text: lowercase, collapsed whitespace — the canonical form
    * for exact dedup and fingerprinting.
    */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Deterministic document fingerprint over normalized content. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** BPE-style pre-tokenization count: the GPT-ish segmentation regex
    * (contraction suffix | space?-letters | space?-digits | space?-punct
    * run), restricted to RE2-safe constructs so any engine's regex library
    * reproduces it exactly. A cheap proxy for "LLM tokens" vs whitespace
    * words — the standard cost estimate over a training corpus.
    */
  val BpeTokenRegex = "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenRegex), lit(0)))

  /** k-gram rolling hashes of a PRE-MATERIALIZED token array, as an array
    * column — step 1 of winnowing. Project this into a column before
    * windowing (same re-evaluation warning as shinglesOfTokens).
    */
  def shingleHashArray(toks: Column, k: Int): Column =
    transform(shinglesOfTokens(toks, k),
      g => pmod(Dedup.portableHashLo(g), lit(Dedup.MersennePrime)))

  /** Winnowing fingerprints (the MOSS rolling-hash scheme) over a
    * PRE-MATERIALIZED hash array (`shingleHashArray` bound to a column):
    * min per window of `w` consecutive hashes → distinct mins. Guarantees
    * any shared run of ≥ w+k−1 tokens yields a shared fingerprint, while
    * local edits perturb only nearby windows. Passing an unbound hash
    * expression here re-evaluates the whole shingle+md5 array PER WINDOW —
    * quadratic per row (measured 20× on real documents).
    */
  def winnowedFingerprintsOfHashes(hs: Column, w: Int): Column =
    array_distinct(filter(
      transform(hs, (_, i) => when(i <= size(hs) - w, array_min(slice(hs, i + 1, lit(w))))),
      x => x.isNotNull))

  /** 64-bit rolling content hash (xxhash64 of normalized text) for
    * hash-partitionable dedup keys.
    */
  def fingerprint64(text: Column): Column = xxhash64(normalized(text))

  /** Quality signals: length, token stats, punctuation/stopword ratios.
    * Per-row IEEE double math only — deterministic across engines.
    */
  val englishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))

  def stopwordCount(text: Column, stopwords: Seq[String] = englishStopwords): Column =
    stopwordCountOfTokens(tokens(text), stopwords)

  def stopwordCountOfTokens(toks: Column, stopwords: Seq[String] = englishStopwords): Column =
    size(filter(toks, t => array_contains(array(stopwords.map(lit): _*), t)))

  /** Quality signals over a PRE-MATERIALIZED token array (bind
    * `tokens(text)` to a column first — an inline expression would
    * re-tokenize the document once per feature): penalizes very short
    * docs, high punctuation density, and stopword-free (non-natural) text.
    */
  def qualityFeaturesOfTokens(text: Column, toks: Column): Seq[(String, Column)] = {
    val nTok = size(toks).cast("double")
    Seq(
      "n_tokens"       -> size(toks),
      "punct_ratio"    -> punctCount(text).cast("double") / greatest(length(text).cast("double"), lit(1.0)),
      "stopword_ratio" -> stopwordCountOfTokens(toks).cast("double") / greatest(nTok, lit(1.0)),
      "avg_token_len"  -> (length(regexp_replace(trim(text), "\\s+", "")).cast("double") / greatest(nTok, lit(1.0)))
    )
  }

  /** Convenience form for small inputs — hot paths bind the tokens first. */
  def qualityFeatures(text: Column): Seq[(String, Column)] =
    qualityFeaturesOfTokens(text, tokens(text))

  /** Stopword-profile language ID. Counts language-marker tokens per
    * candidate language and arg-maxes with a fixed preference order —
    * an n-gram/stopword heuristic in pure column algebra.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "la", "que", "los", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "和")
  )

  def langScore(text: Column, markers: Seq[String]): Column =
    langScoreOfTokens(tokens(lower(text)), markers)

  def langScoreOfTokens(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(markers.map(lit): _*), t)))

  /** Predicted language over a PRE-MATERIALIZED lowercase token array:
    * highest marker count wins; ties resolve in `langMarkers` order;
    * all-zero falls back to "und" (undetermined). Each score expression is
    * referenced several times (argmax comparison), so the token array must
    * be a bound attribute — an inline `tokens(lower(text))` would
    * re-tokenize the document once per language × comparison.
    */
  def langIdOfTokens(toks: Column): Column = {
    val scored = langMarkers.map { case (lang, m) => (lang, langScoreOfTokens(toks, m)) }
    val best   = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("und"): Column) { case ((lang, score), acc) =>
      when(score === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Convenience form for small inputs — hot paths should bind the token
    * array first (see langIdOfTokens).
    */
  def langId(text: Column): Column = langIdOfTokens(tokens(lower(text)))

  /** Fuzzy self-join at edit distance ≤ 1 via the deletion-neighborhood
    * (SymSpell) trick: two strings are within one edit iff their
    * {self} ∪ {single-char deletions} variant sets intersect — substitution
    * meets at the common deletion, indel meets at the shorter string — so
    * candidate generation is an EQUI-join on the variant key instead of the
    * all-pairs cross join a distance predicate forces. Each candidate then
    * verifies with the exact `levenshtein` (codegen'd built-in), which
    * discards the neighborhood's false positives (distance-2 pairs sharing
    * a deletion).
    *
    * Scale shape: |key| + 1 variant rows per input row, one shuffle on the
    * variant key, bucket sizes bounded by how many corpus keys share a
    * variant (the same valve LSH banding uses); the cross join this
    * replaces is O(n²) over the corpus and appears in no plan. Variants of
    * a row dedupe BEFORE the join (a key with repeated chars yields the
    * same deletion twice), so candidate pairs stay distinct-per-cause and
    * the final `distinct` is bucket-local work.
    *
    * Output: (id_a, id_b, key_a, key_b, dist) with id_a < id_b, one row per
    * document pair whose `keyCol` strings are within one edit.
    */
  def editDistanceOnePairs(df: DataFrame, idCol: String, keyCol: String): DataFrame = {
    val variants = df
      .select(col(idCol).as("__id"), col(keyCol).as("__key"))
      .select(col("__id"), col("__key"), explode(array_distinct(expr(
        """concat(array(__key),
          |  transform(sequence(1, length(__key)),
          |    i -> concat(substring(__key, 1, i - 1), substring(__key, i + 1, length(__key)))))"""
          .stripMargin))).as("__v"))
    val a = variants.select(col("__id").as("__ida"), col("__key").as("__keya"), col("__v"))
    val b = variants.select(col("__id").as("__idb"), col("__key").as("__keyb"), col("__v"))
    a.join(b, Seq("__v"))
      .filter(col("__ida") < col("__idb"))
      .select(col("__ida"), col("__idb"), col("__keya"), col("__keyb"))
      .distinct()
      .withColumn("dist", levenshtein(col("__keya"), col("__keyb")))
      .filter(col("dist") <= 1)
      .select(col("__ida").as("id_a"), col("__idb").as("id_b"),
        col("__keya").as("key_a"), col("__keyb").as("key_b"), col("dist"))
  }
}
