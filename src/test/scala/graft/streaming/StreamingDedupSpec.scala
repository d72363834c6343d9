package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
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

    // index holds ONLY canonicals (A, C) — the dropped dup adds no mass
    val indexed = store.readOr(StreamingDedup.SigsTable, null)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 3L))

    // batch 1: D ≈ A → cross-batch dup of the CANONICAL 1; E kept
    proc(1L, Seq(
      10L -> baseA.replace("alpha50", "changed"),
      11L -> baseE))
    val v1 = verdicts(store, 1L)
    assert(v1(10L)._1 == 0 && v1(10L)._2.contains(1L),
      s"batch-2 near-dup must resolve to the batch-1 canonical: $v1")
    assert(v1(11L) == ((1, None)))
    val afterB1 = store.readOr(StreamingDedup.SigsTable, null)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(afterB1 == Set(1L, 3L, 11L))

    // crash replay of batch 1: identical verdict, ZERO index growth
    proc(1L, Seq(
      10L -> baseA.replace("alpha50", "changed"),
      11L -> baseE))
    assert(verdicts(store, 1L) == v1, "replay must recompute the identical verdict")
    val postings = store.readOr(StreamingDedup.PostingsTable, null)
    assert(store.readOr(StreamingDedup.SigsTable, null).count() == 3L,
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
    assert(store.readOr(StreamingDedup.SigsTable, null).count() == 3L)
    // NB "epsilon15" matches exactly one word ("epsilon5" would also hit
    // epsilon50..epsilon59 and sink the similarity below the threshold)
    proc(3L, Seq(4L -> baseE.replace("epsilon15", "edited"))) // dups 3 (in window)
    assert(verdicts(store, 3L)(4L)._2.contains(3L))
    // bid 4 prunes to keepFrom = 2: batch-0/1 canonicals leave the index —
    // bounded state, the priced trade
    proc(4L, Seq(5L -> baseC.replace("gamma7", "shifted")))
    val sigs = store.readOr(StreamingDedup.SigsTable, null)
    assert(sigs.filter(col("batch_id") < 2L).count() == 0L,
      "index rows older than the window must be pruned")
    assert(store.readOr(StreamingDedup.PostingsTable, null)
      .filter(col("batch_id") < 2L).count() == 0L)
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

  test("a crash between the sigs and postings appends replays to a complete index") {
    val store = mkStore()
    def proc(bid: Long, docs: Seq[(Long, String)]): Unit =
      StreamingDedup.processLshBatch(store)(docs.toDF("doc_id", "text"), bid)
    proc(0L, Seq(1L -> baseA, 3L -> baseC))

    // simulate batch 1 crashing AFTER the lsh_sigs append and BEFORE the
    // lsh_postings append: land exactly the sigs rows the real batch
    // writes for the new canonical (doc 11), bounded [1, 1] as its
    // append bounds them, nothing else
    val sigs11 = graft.operators.Dedup.minHashSignatureArray(
        Seq(11L -> baseE).toDF("doc_id", "text"), "doc_id", "text", 3, 64)
      .select(col("doc_id"), col("sig"), lit(1L).as("batch_id"),
        pmod(col("doc_id"), lit(256L)).cast("int").as("sp"))
    store.appendPartitioned(StreamingDedup.SigsTable, sigs11, "sp", Some(("batch_id", 1L, 1L)))

    // replay the whole batch: each table's own bracket must redo it —
    // the sigs bracket replaces the landed rows, and the postings one
    // lands what the crashed attempt lost
    proc(1L, Seq(11L -> baseE))
    val sigCount = store.readOr(StreamingDedup.SigsTable, null)
      .filter(col("doc_id") === 11L).count()
    assert(sigCount == 1L, "replay must not duplicate the landed sigs row")
    val postingBands = store.readOr(StreamingDedup.PostingsTable, null)
      .filter(col("doc_id") === 11L).select("band").distinct().count()
    assert(postingBands == 16L,
      "replay must land the postings the crashed attempt lost")

    // and the recovered index actually serves recall: a later near-dup of
    // doc 11 resolves against it
    proc(2L, Seq(20L -> baseE.replace("epsilon30", "edited")))
    val v2 = verdicts(store, 2L)
    assert(v2(20L)._1 == 0 && v2(20L)._2.contains(11L),
      s"doc 20 must resolve to the crash-recovered canonical 11: $v2")
  }

  test("the index probe prunes to the batch's band-hash prefix partitions") {
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

  test("an lsh_postings table in the band-prefix layout fails the first batch loudly") {
    val store = mkStore()
    store.appendPartitioned(StreamingDedup.PostingsTable,
      Seq((0, 5L, 1L, 0L, 5)).toDF("band", "band_hash", "doc_id", "batch_id", "bp"), "bp")
    val ex = intercept[IllegalStateException](StreamingDedup.processLshBatch(store)(
      Seq(2L -> baseA).toDF("doc_id", "text"), 1L))
    assert(ex.getMessage.contains("'lsh_postings'") && ex.getMessage.contains("bp="), ex.getMessage)
  }

  test("an lsh_sigs dir without batch bounds fails the first batch loudly") {
    val store = mkStore()
    store.appendPartitioned(StreamingDedup.SigsTable,
      Seq((1L, Array(1L), 0L, 1)).toDF("doc_id", "sig", "batch_id", "sp"), "sp")
    val ex = intercept[IllegalStateException](StreamingDedup.processLshBatch(store)(
      Seq(2L -> baseA).toDF("doc_id", "text"), 1L))
    assert(ex.getMessage.contains("'lsh_sigs'") && ex.getMessage.contains("bounds"), ex.getMessage)
  }

  test("50 batches keep bounded file counts per partition; verdicts stay correct",
      graft.Slow) {
    import scala.jdk.CollectionConverters._
    val store = mkStore()
    val threshold = 6
    // every batch: one FRESH doc (kept, id ≡ 0 mod 256 so all sigs land in
    // the SAME sp=0 partition — worst case for file growth) and one
    // near-dup of the batch-0 canonical (cross-batch probe must keep
    // resolving through arbitrarily many interleaved compactions)
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
      StreamingDedup.processLshBatch(store, compactFiles = threshold)(
        docs.toDF("doc_id", "text"), b.toLong)
      if (b > 0) {
        val v = verdicts(store, b.toLong)
        assert(v(512L * b + 256) == ((1, None)), s"batch $b fresh doc must keep: $v")
        assert(v(512L * b + 257) == ((0, Some(canonId))),
          s"batch $b near-dup must resolve to the batch-0 canonical: $v")
      }
    }
    // the index still holds exactly the canonicals (one per batch)
    assert(store.readOr(StreamingDedup.SigsTable, null).count() == 50L)
    // bounded: every lsh_sigs key holds at most threshold+2 live data
    // files (grows ~1/batch, compacts back to 1 whenever the post-append
    // count exceeds the threshold), and lsh_postings holds at most
    // 64 + 8 dirs per compaction level (three levels below 8^3 batches)
    val (key, worst) = store.fileCounts(StreamingDedup.SigsTable).maxBy(_._2)
    assert(worst <= threshold + 2, s"lsh_sigs partition $key grew to $worst files")
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
      // every physical dir is referenced by SOME retained manifest (rel
      // paths look like ".d-x/sp=3"); anything else is an orphan that
      // would accumulate one per append forever
      val referenced = manifests.flatMap(m =>
        Files.readString(root.resolve(m)).linesIterator
          .filter(l => l.nonEmpty && l != "#end" && l.contains('\t'))
          .map(_.split('\t')(1).split('/')(0))).toSet
      val physical = names.filter(_.startsWith(".d-")).toSet
      assert(physical == referenced,
        s"$table orphan dirs survive GC: ${physical -- referenced}")
    }
    audit(StreamingDedup.SigsTable)
    audit(StreamingDedup.PostingsTable)
  }

  test("the wired streaming query maintains the index end-to-end") {
    val store = mkStore()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamingText.Doc]
    val q = StreamingDedup.lshDedupStream(src.toDS(), store,
      Files.createTempDirectory("graft-lsh-ckpt").toString)
    try {
      src.addData(StreamingText.Doc(1L, baseA), StreamingText.Doc(2L, baseC))
      q.processAllAvailable()
      src.addData(StreamingText.Doc(3L, baseA.replace("alpha20", "swapped")))
      q.processAllAvailable()
      val all = store.readOr(StreamingDedup.VerdictTable, null).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("is_new")).toMap
      assert(all == Map(1L -> 1, 2L -> 1, 3L -> 0))
    } finally q.stop()
  }
}
