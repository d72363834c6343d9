package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import graft.SparkSpec
import graft.chain.TableStore

/** Cross-batch near-dup detection over the incrementally-maintained LSH
  * index: batch-2 arrivals must match batch-1 canonicals, within-batch
  * chains keep their minimum, the index holds canonicals only, and a
  * crash-replayed batch converges (identical verdict, no index growth).
  */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  // long enough that a one-word edit keeps shingle-Jaccard well above the
  // 0.7 match threshold (60 tokens -> ~58 shingles, one edit perturbs 3)
  private val baseA = (0 until 60).map(i => s"alpha$i").mkString(" ")
  private val baseC = (0 until 60).map(i => s"gamma$i").mkString(" ")
  private val baseE = (0 until 60).map(i => s"epsilon$i").mkString(" ")

  private def mkStore() =
    TableStore(spark, Files.createTempDirectory("graft-lsh-stream").toString)

  private def verdicts(store: TableStore, bid: Long): Map[Long, (Int, Option[Long])] =
    store.readOr(StreamingDedup.VerdictTable, null)
      .filter(col("batch_id") === bid)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("is_new"),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong))))
      .toMap

  /** The index's signature rows: each canonical's band-0 posting. */
  private def sigRows(store: TableStore) =
    store.readOr(StreamingDedup.PostingsTable, null).filter(col("band") === 0)

  /** The current manifest's bounded dirs of `table`: rel dir → [lo, hi]. */
  private def manifestBounds(store: TableStore, table: String): Map[String, (Long, Long)] = {
    val tdir = java.nio.file.Paths.get(store.root, table)
    val v = Files.readString(tdir.resolve(".gen")).trim.split("\\s+")(0)
    Files.readString(tdir.resolve(s".manifest.$v")).linesIterator.map(_.split('\t'))
      .collect { case Array(_, rel, lo, hi) => rel -> ((lo.toLong, hi.toLong)) }.toMap
  }

  /** The rel dirs (under the table dir) of every file `df`'s one scan reads. */
  private def scannedDirs(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"one scan expected:\n${df.queryExecution.executedPlan}")
    scans.head.inputRDD.partitions.toSeq.flatMap {
      case p: org.apache.spark.sql.execution.datasources.FilePartition => p.files.map(_.toPath)
    }.map(_.getParent.getName).distinct
  }

  test("near-dups resolve across batches against canonicals only; replay converges") {
    val store = mkStore()
    def proc(bid: Long, docs: Seq[(Long, String)]): Unit =
      StreamingDedup.processLshBatch(store)(docs.toDF("doc_id", "text"), bid)

    // batch 0: A kept; B ≈ A (one word changed) dups A in-batch; C kept
    proc(0L, Seq(
      1L -> baseA,
      2L -> baseA.replace("alpha30", "edited"),
      3L -> baseC))
    val v0 = verdicts(store, 0L)
    assert(v0(1L) == ((1, None)))
    assert(v0(2L)._1 == 0 && v0(2L)._2.contains(1L), s"B must dup A in-batch: $v0")
    assert(v0(3L) == ((1, None)))

    // index holds ONLY canonicals (A, C) — the dropped dup adds no mass —
    // and each one's signature rides on its band-0 row alone
    val indexed = sigRows(store).filter(col("sig").isNotNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 3L))
    val postings0 = store.readOr(StreamingDedup.PostingsTable, null)
    assert(postings0.filter(col("sig").isNotNull =!= (col("band") === 0)).isEmpty,
      "sig must be set on band 0 and null on every other band")
    assert(postings0.filter(col("sig").isNotNull).select(size(col("sig"))).distinct()
      .collect().map(_.getInt(0)).toSeq == Seq(64))

    // batch 1: D ≈ A → cross-batch dup of the CANONICAL 1; E kept
    proc(1L, Seq(
      10L -> baseA.replace("alpha50", "changed"),
      11L -> baseE))
    val v1 = verdicts(store, 1L)
    assert(v1(10L)._1 == 0 && v1(10L)._2.contains(1L),
      s"batch-2 near-dup must resolve to the batch-1 canonical: $v1")
    assert(v1(11L) == ((1, None)))
    val afterB1 = sigRows(store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(afterB1 == Set(1L, 3L, 11L))

    // crash replay of batch 1: identical verdict, ZERO index growth
    proc(1L, Seq(
      10L -> baseA.replace("alpha50", "changed"),
      11L -> baseE))
    assert(verdicts(store, 1L) == v1, "replay must recompute the identical verdict")
    val postings = store.readOr(StreamingDedup.PostingsTable, null)
    assert(sigRows(store).count() == 3L,
      "replayed sigs must not re-append")
    assert(postings.groupBy("doc_id", "band").count().filter(col("count") > 1).isEmpty,
      "replayed postings must not duplicate any (doc, band) row")
  }

  test("retentionBatches bounds the LSH index to a sliding window (documented semantics)") {
    val store = mkStore()
    def proc(bid: Long, docs: Seq[(Long, String)]): Unit =
      StreamingDedup.processLshBatch(store, retentionBatches = Some(2L))(
        docs.toDF("doc_id", "text"), bid)
    proc(0L, Seq(1L -> baseA))
    proc(1L, Seq(2L -> baseC))
    proc(2L, Seq(3L -> baseE)) // prune at keepFrom = 0: nothing drops
    assert(sigRows(store).count() == 3L)
    // NB "epsilon15" matches exactly one word ("epsilon5" would also hit
    // epsilon50..epsilon59 and sink the similarity below the threshold)
    proc(3L, Seq(4L -> baseE.replace("epsilon15", "edited"))) // dups 3 (in window)
    assert(verdicts(store, 3L)(4L)._2.contains(3L))
    // bid 4 prunes to keepFrom = 2: batch-0/1 canonicals leave the index —
    // bounded state, the priced trade
    proc(4L, Seq(5L -> baseC.replace("gamma7", "shifted")))
    assert(store.readOr(StreamingDedup.PostingsTable, null)
      .filter(col("batch_id") < 2L).count() == 0L,
      "index rows older than the window must be pruned")
    // the SEMANTIC trade, pinned: a near-dup of the batch-0 canonical now
    // reads as NEW (outside the window); one of the batch-2 canonical
    // still dedups (inside it)
    proc(5L, Seq(
      20L -> baseA.replace("alpha9", "altered"),
      21L -> baseE.replace("epsilon9", "turned")))
    val v5 = verdicts(store, 5L)
    assert(v5(20L)._1 == 1 && v5(20L)._2.isEmpty,
      s"outside-window near-dup must read as new: $v5")
    assert(v5(21L)._1 == 0 && v5(21L)._2.contains(3L),
      s"inside-window near-dup must still resolve: $v5")
  }

  test("within-batch chain keeps exactly its minimum; est_jaccard is a computed estimator") {
    val store = mkStore()
    // three near-identical docs: the chain must collapse to doc 5
    val docs = Seq(
      5L -> baseA,
      6L -> baseA.replace("alpha10", "edit1"),
      7L -> baseA.replace("alpha40", "edit2"))
    StreamingDedup.processLshBatch(store)(docs.toDF("doc_id", "text"), 0L)
    val v = verdicts(store, 0L)
    assert(v(5L) == ((1, None)))
    assert(v(6L)._1 == 0 && v(6L)._2.contains(5L))
    assert(v(7L)._1 == 0 && v(7L)._2.contains(5L))
    val sims = store.readOr(StreamingDedup.VerdictTable, null)
      .filter(col("is_new") === 0).select("est_jaccard").collect()
    assert(sims.nonEmpty && sims.forall { r =>
      val s = r.getDouble(0); s >= 0.7 && s <= 1.0
    })
    // streaming verdict agrees with the batch operator's verify on the
    // same corpus: every flagged pair is a real ≥-threshold near-dup there
    val batchPairs = graft.operators.Dedup.minHashLshNearDups(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs.contains((5L, 6L)) && batchPairs.contains((5L, 7L)))
  }

  test("a dup that appears only as id_a of its pairs still reports est_jaccard") {
    val store = mkStore()
    // the two-band shape from the round-11 verdict: 3≈9 and 5≈9 above
    // threshold, 3≉5 below it, so the surviving pairs are (3,9) and (5,9)
    // and doc 5 is in component {3,5,9} while never appearing as id_b.
    // Construction: 9 = X++Y; 3 edits a tail slice of Y; 5 edits a head
    // slice of X — each shares ~0.75 shingle-Jaccard with 9 but only ~0.55
    // with the other.
    val x = (0 until 40).map(i => s"xx$i")
    val y = (0 until 40).map(i => s"yy$i")
    val doc9 = (x ++ y).mkString(" ")
    val doc3 = (x ++ y.dropRight(10) ++ (0 until 10).map(i => s"tail$i")).mkString(" ")
    val doc5 = ((0 until 10).map(i => s"head$i") ++ x.drop(10) ++ y).mkString(" ")
    StreamingDedup.processLshBatch(store)(
      Seq(3L -> doc3, 5L -> doc5, 9L -> doc9).toDF("doc_id", "text"), 0L)
    val rows = store.readOr(StreamingDedup.VerdictTable, null).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("is_new"),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong),
          Option(r.getAs[java.lang.Double]("est_jaccard")).map(_.toDouble))))
      .toMap
    assert(rows(3L)._1 == 1 && rows(3L)._3.isEmpty,
      s"canonical keeps a null estimator: $rows")
    assert(rows(9L)._1 == 0 && rows(9L)._2.contains(3L))
    assert(rows(5L)._1 == 0 && rows(5L)._2.contains(3L),
      s"doc 5 must collapse into component {3,5,9}: $rows")
    // the fix under test: 5's only surviving pair is (5,9) where it is
    // id_a — its verdict must still carry the computed estimator
    assert(rows(5L)._3.exists(s => s >= 0.7 && s <= 1.0),
      s"id_a-only dup must report a non-null est_jaccard: $rows")
    assert(rows(9L)._3.exists(s => s >= 0.7 && s <= 1.0))
    // shape check: the pair (3,5) really is sub-threshold (the scenario
    // collapses to the ordinary id_b case otherwise)
    val est35 = graft.operators.Dedup.minHashLshNearDups(
        Seq(3L -> doc3, 5L -> doc5).toDF("doc_id", "text"), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.7)
    assert(est35.isEmpty, "docs 3 and 5 must NOT be near-dups of each other")
  }

  test("a replay over a half-landed postings dir lands one signature row and 16 bands") {
    val store = mkStore()
    def proc(bid: Long, docs: Seq[(Long, String)]): Unit =
      StreamingDedup.processLshBatch(store)(docs.toDF("doc_id", "text"), bid)
    proc(0L, Seq(1L -> baseA, 3L -> baseC))

    // a crashed attempt of batch 1 left a [1, 1] postings dir holding only
    // bands 0..7 of the new canonical (doc 11), its signature on band 0
    val sigs11 = graft.operators.Dedup.minHashSignatureArray(
      Seq(11L -> baseE).toDF("doc_id", "text"), "doc_id", "text", 3, 64)
    val half = graft.operators.Dedup.lshBands(sigs11, "doc_id", 64, 16)
      .filter(col("band") < 8).join(sigs11, "doc_id")
      .select(col("band"), col("band_hash"), col("doc_id"), lit(1L).as("batch_id"),
        when(col("band") === 0, col("sig")).as("sig"))
    store.appendRange(StreamingDedup.PostingsTable, half, "batch_id", 1L, 1L)

    // replay the whole batch: its bracket drops the half-landed dir and
    // lands the complete one
    proc(1L, Seq(11L -> baseE))
    val doc11 = store.readOr(StreamingDedup.PostingsTable, null).filter(col("doc_id") === 11L)
    assert(doc11.filter(col("sig").isNotNull).select("band").collect().map(_.getInt(0))
      .toSeq == Seq(0), "replay must leave exactly one signature row, on band 0")
    assert(doc11.select("band").distinct().count() == 16L && doc11.count() == 16L,
      "replay must land all 16 bands once")

    // and the recovered index actually serves recall: a later near-dup of
    // doc 11 resolves against it
    proc(2L, Seq(20L -> baseE.replace("epsilon30", "edited")))
    val v2 = verdicts(store, 2L)
    assert(v2(20L)._1 == 0 && v2(20L)._2.contains(11L),
      s"doc 20 must resolve to the crash-recovered canonical 11: $v2")
  }

  test("the index probe reads only the dirs bounded below the batch") {
    val store = mkStore()
    // two fresh canonicals per batch: every batch lands postings
    (0L to 2L).foreach(b => StreamingDedup.processLshBatch(store)(
      (1L to 2L).map(i => (10 * b + i) -> (0 until 60).map(w => s"w${b}_${i}_$w").mkString(" "))
        .toDF("doc_id", "text"), b))
    // the probe batch 2 makes (and a replay of it): only the dirs bounded
    // below 2 may be opened, so a crashed attempt's own rows are never read
    val bid = 2L
    val dirs = manifestBounds(store, StreamingDedup.PostingsTable)
    assert(dirs.values.toSet == Set((0L, 0L), (1L, 1L), (2L, 2L)), s"one dir per batch: $dirs")
    val probe = store.readRange(StreamingDedup.PostingsTable, "batch_id", Long.MinValue, bid - 1,
      StreamingDedup.postingsSchema)
    val read = scannedDirs(probe)
    assert(read.nonEmpty && read.forall(d => dirs(d)._2 < bid),
      s"the probe read a dir not bounded below $bid: ${read.map(dirs)}")
    assert(probe.count() == store.readOr(StreamingDedup.PostingsTable, null)
      .filter(col("batch_id") < bid).count())
  }

  test("the probe's lsh_postings scans read no sig column; the signature fetch does") {
    val store = mkStore()
    StreamingDedup.processLshBatch(store)(Seq(1L -> baseA, 3L -> baseC).toDF("doc_id", "text"), 0L)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.sparkPlan): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // ReadSchema of every lsh_postings scan the batch planned
    def readSchemas(): Seq[Set[String]] = plans.asScala.toSeq.flatMap(_.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("/lsh_postings/")) =>
        s.requiredSchema.fieldNames.toSet
    })
    spark.listenerManager.register(listener)
    try {
      StreamingDedup.processLshBatch(store)(
        Seq(10L -> baseA.replace("alpha50", "changed")).toDF("doc_id", "text"), 1L)
      // the listener bus is asynchronous; the fetch runs after the probe
      eventually(timeout(Span(30, Seconds))) {
        assert(readSchemas().exists(_.contains("sig")))
      }
    } finally spark.listenerManager.unregister(listener)
    assert(verdicts(store, 1L)(10L) == ((0, Some(1L))))
    val (fetch, probe) = readSchemas().partition(_.contains("sig"))
    assert(probe.nonEmpty && probe.forall(_.contains("band_hash")),
      s"the probe must read band_hash without sig: $probe")
    assert(fetch.forall(!_.contains("band_hash")), s"the fetch reads signatures only: $fetch")
  }

  test("an lsh_postings table in the band-prefix layout fails the first batch loudly") {
    val store = mkStore()
    store.appendPartitioned(StreamingDedup.PostingsTable,
      Seq((0, 5L, 1L, 0L, 5)).toDF("band", "band_hash", "doc_id", "batch_id", "bp"), "bp")
    val ex = intercept[IllegalStateException](StreamingDedup.processLshBatch(store)(
      Seq(2L -> baseA).toDF("doc_id", "text"), 1L))
    assert(ex.getMessage.contains("'lsh_postings'") && ex.getMessage.contains("bp="), ex.getMessage)
  }

  test("a separate lsh_sigs table or postings without sig fail the first batch loudly") {
    val sigsStore = mkStore()
    sigsStore.appendRange("lsh_sigs",
      Seq((1L, Array(1L), 0L)).toDF("doc_id", "sig", "batch_id"), "batch_id", 0L, 0L)
    val sigsEx = intercept[IllegalStateException](StreamingDedup.processLshBatch(sigsStore)(
      Seq(2L -> baseA).toDF("doc_id", "text"), 1L))
    assert(sigsEx.getMessage.contains("'lsh_sigs'"), sigsEx.getMessage)
    // the batch-ranged postings of stores whose signatures lived apart
    val postingsStore = mkStore()
    postingsStore.appendRange(StreamingDedup.PostingsTable,
      Seq((0, 5L, 1L, 0L)).toDF("band", "band_hash", "doc_id", "batch_id"), "batch_id", 0L, 0L)
    val postingsEx = intercept[IllegalStateException](StreamingDedup.processLshBatch(
      postingsStore)(Seq(2L -> baseA).toDF("doc_id", "text"), 1L))
    assert(postingsEx.getMessage.contains("'lsh_postings'") &&
      postingsEx.getMessage.contains("sig"), postingsEx.getMessage)
  }

  test("50 batches keep bounded posting dirs; verdicts stay correct",
      graft.Slow) {
    val store = mkStore()
    // every batch: one FRESH doc (kept) and one near-dup of the batch-0
    // canonical (cross-batch probe must keep resolving through
    // arbitrarily many interleaved compactions)
    val canonId = 256L
    (0 until 50).foreach { b =>
      val fresh = (0 until 60).map(i => s"w${b}_$i").mkString(" ")
      // near-dup = baseA with exactly ONE token swapped (an index-based
      // rebuild — a substring replace of "alpha2" would also hit
      // alpha20..alpha29 and sink Jaccard below the threshold)
      val editAt = 10 + (b % 40)
      val nearDup = (0 until 60)
        .map(i => if (i == editAt) s"edited$b" else s"alpha$i").mkString(" ")
      val docs =
        if (b == 0) Seq(canonId -> baseA)
        else Seq(
          (512L * b + 256) -> fresh,
          (512L * b + 257) -> nearDup)
      StreamingDedup.processLshBatch(store)(docs.toDF("doc_id", "text"), b.toLong)
      if (b > 0) {
        val v = verdicts(store, b.toLong)
        assert(v(512L * b + 256) == ((1, None)), s"batch $b fresh doc must keep: $v")
        assert(v(512L * b + 257) == ((0, Some(canonId))),
          s"batch $b near-dup must resolve to the batch-0 canonical: $v")
      }
    }
    // the index still holds exactly the canonicals (one per batch)
    assert(sigRows(store).count() == 50L)
    // bounded: lsh_postings holds at most 64 + 8 dirs per compaction
    // level (three levels below 8^3 batches)
    val postingDirs = store.rangeDirs(StreamingDedup.PostingsTable).size
    assert(postingDirs <= 64 + 8 * 3, s"lsh_postings grew to $postingDirs dirs")
    def audit(table: String): Unit = {
      val root = java.nio.file.Paths.get(store.root, table)
      val names = Files.list(root).iterator().asScala
        .map(_.getFileName.toString).toSeq
      val manifests = names.filter(_.startsWith(".manifest."))
      // current generation + ≤ manifestRetain stale ones (reader grace)
      assert(manifests.size <= 1 + store.manifestRetain,
        s"$table superseded manifests not GC'd: $manifests")
      // every physical dir is referenced by SOME retained manifest;
      // anything else is an orphan that would accumulate one per append
      // forever
      val referenced = manifests.flatMap(m =>
        Files.readString(root.resolve(m)).linesIterator
          .filter(l => l.nonEmpty && l != "#end" && l.contains('\t'))
          .map(_.split('\t')(1).split('/')(0))).toSet
      val physical = names.filter(_.startsWith(".d-")).toSet
      assert(physical == referenced,
        s"$table orphan dirs survive GC: ${physical -- referenced}")
    }
    audit(StreamingDedup.PostingsTable)
  }
}
