package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec

class StreamingTextSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("dedupStream drops duplicates across micro-batches (stateful)") {
    val in  = MemoryStream[StreamingText.Doc]
    val out = StreamingText.dedupStream(in.toDS())
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two distinct + an in-batch duplicate (by normalized text)
      in.addData(StreamingText.Doc(1L, "Hello  World"), StreamingText.Doc(2L, "other doc"),
        StreamingText.Doc(3L, "hello world"))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate of doc 1 + one new
      in.addData(StreamingText.Doc(4L, "HELLO WORLD"), StreamingText.Doc(5L, "fresh content"))
      q.processAllAvailable()
      val got = spark.table("dedup_out").collect().map(_.getAs[Long]("doc_id")).sorted
      assert(got.toSeq == Seq(1L, 2L, 5L)) // 3 (in-batch) and 4 (cross-batch) deduped
    } finally q.stop()
  }

  test("packedStream continues bin numbering across micro-batches per shard") {
    val in  = MemoryStream[StreamingText.Doc]
    val out = StreamingText.packedStream(in.toDS(), d => s"shard${d.doc_id % 2}", budget = 5L)
    val q = out.writeStream.format("memory").queryName("pack_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // shard0 gets docs 0,2 (3 tokens each); shard1 gets 1,3
      in.addData(
        StreamingText.Doc(0L, "a b c"), StreamingText.Doc(1L, "d e f"),
        StreamingText.Doc(2L, "g h i"), StreamingText.Doc(3L, "j k l"))
      q.processAllAvailable()
      // batch 2: shard0 continues at 6 tokens → doc 4 starts in bin 1
      in.addData(StreamingText.Doc(4L, "m n o"), StreamingText.Doc(6L, "p q"))
      q.processAllAvailable()
      val got = spark.table("pack_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bin")).toMap
      // shard0: doc0 start 0 → bin 0; doc2 start 3 → bin 0; doc4 start 6 → bin 1;
      //         doc6 start 9 → bin 1
      assert(got(0L) == 0L && got(2L) == 0L && got(4L) == 1L && got(6L) == 1L)
      // shard1: doc1 start 0 → bin 0; doc3 start 3 → bin 0
      assert(got(1L) == 0L && got(3L) == 0L)
    } finally q.stop()
  }

  test("windowedQuality emits watermark-finalized windows and drops stragglers") {
    val in = MemoryStream[(Timestamp, String)]
    val out = StreamingText.windowedQuality(
      in.toDF().toDF("ts", "text"), "ts", "10 seconds", "5 seconds")
    val q = out.writeStream.format("memory").queryName("wq_out")
      .outputMode(OutputMode.Append()).start()
    try {
      def ts(s: Int) = new Timestamp(s * 1000L)
      in.addData((ts(1), "a doc!"), (ts(4), "more, text?"))
      q.processAllAvailable()
      // advance event time past window-end (10s) + lateness (5s)
      in.addData((ts(21), "next window"))
      q.processAllAvailable()
      // straggler for the finalized [0,10) window: dropped by the watermark
      in.addData((ts(2), "too late"))
      q.processAllAvailable()
      in.addData((ts(40), "flush"))
      q.processAllAvailable()
      val rows = spark.table("wq_out").collect()
        .map(r => r.getAs[Timestamp]("window_start").getTime / 1000 -> r.getAs[Long]("n_docs"))
        .toMap
      assert(rows(0L) == 2L) // straggler NOT counted
    } finally q.stop()
  }

  test("chunk dedup holds across batches and replays idempotently") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkdedup").toString
    val store = graft.chain.TableStore(spark, dir)
    val proc = StreamingText.processChunkBatch(store, chunkTokens = 2) _
    def results() = store.readOr("chunk_dedup", null)
      .collect().map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("doc_id")) ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("dup_chunks")))).toMap

    // batch 0: doc1 [a b][c d]; doc2 [a b][x y] → doc2 dups 1 chunk;
    // within-batch rule: doc1 wins "a b" (lower id)
    proc(Seq((1L, "a b c d"), (2L, "a b x y")).toDF("doc_id", "text"), 0L)
    assert(results() == Map((0L, 1L) -> ((2L, 0L)), (0L, 2L) -> ((2L, 1L))))

    // batch 1: doc3 repeats batch-0 chunks + one new → 2 of 3 dup
    proc(Seq((3L, "c d x y q r")).toDF("doc_id", "text"), 1L)
    assert(results()((1L, 3L)) == ((3L, 2L)))

    // crash replay of batch 1 (same bid, hashes already half-appended):
    // results must be identical, not doubled, and the state table must
    // still treat batch-1 chunks as fresh relative to bid=1
    proc(Seq((3L, "c d x y q r")).toDF("doc_id", "text"), 1L)
    assert(results()((1L, 3L)) == ((3L, 2L)))
    assert(results().size == 3, "replay must overwrite, not append")

    // batch 2 sees batch-1 chunks as duplicates exactly once
    proc(Seq((4L, "q r")).toDF("doc_id", "text"), 2L)
    assert(results()((2L, 4L)) == ((1L, 1L)))
    // state table holds EXACTLY the distinct chunks — the replayed batch
    // appended only what its crashed attempt hadn't already landed
    val hashes = store.readOr("chunk_hashes", null).select(col("h")).collect()
    assert(hashes.length == 4, s"state table must be exactly distinct chunks: ${hashes.length}")

    // a fresh checkpoint (bid restarts at 0) against this populated store
    // must refuse rather than silently recount history as new
    val err = intercept[IllegalArgumentException] {
      proc(Seq((9L, "a b")).toDF("doc_id", "text"), 0L)
    }
    assert(err.getMessage.contains("wiped together"))
  }

  test("retentionBatches bounds chunk_hashes to a sliding window (documented semantics)") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkret").toString
    val store = graft.chain.TableStore(spark, dir)
    val proc = StreamingText.processChunkBatch(store, chunkTokens = 2,
      retentionBatches = Some(2L)) _
    proc(Seq((1L, "a b c d")).toDF("doc_id", "text"), 0L)
    proc(Seq((2L, "e f g h")).toDF("doc_id", "text"), 1L)
    // bid 2 triggers a prune at keepFrom = 0: nothing drops yet
    proc(Seq((3L, "i j k l")).toDF("doc_id", "text"), 2L)
    assert(store.readOr("chunk_hashes", null).count() == 6L)
    proc(Seq((4L, "m n o p")).toDF("doc_id", "text"), 3L)
    // bid 4 prunes to keepFrom = 2: batches 0-1's hashes drop — the state
    // table is bounded by the window, the priced trade
    proc(Seq((5L, "q r s t")).toDF("doc_id", "text"), 4L)
    val kept = store.readOr("chunk_hashes", null)
    assert(kept.filter(col("batch_id") < 2L).count() == 0L,
      "hashes older than the window must be pruned")
    assert(kept.count() == 6L) // batches 2, 3, 4 × 2 chunks
    // the SEMANTIC trade, pinned: a duplicate of a batch-0 chunk now
    // reads as fresh (outside the window), while a batch-3 chunk still
    // dedups (inside it)
    proc(Seq((6L, "a b m n")).toDF("doc_id", "text"), 5L)
    val r6 = store.readOr("chunk_dedup", null)
      .filter(col("batch_id") === 5L).collect().head
    assert(r6.getAs[Long]("dup_chunks") == 1L,
      "inside-window chunk must dedup; outside-window chunk must read fresh")
  }

  test("chunk-dedup state probe prunes to the batch's hash-prefix partitions") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkprune").toString
    val store = graft.chain.TableStore(spark, dir)
    val proc = StreamingText.processChunkBatch(store, chunkTokens = 1) _
    // three batches of 16 fresh one-token docs: one chunk_hashes dir each
    (0L to 2L).foreach(b =>
      proc((1L to 16L).map(i => (16 * b + i, s"tok${b}_$i")).toDF("doc_id", "text"), b))
    assert(store.rangeDirs("chunk_hashes").map(d => (d._1, d._2)) ==
      Seq((0L, 0L), (1L, 1L), (2L, 2L)))
    // the probe batch 2 makes (and a replay of it): only the dirs bounded
    // below 2 may be opened, so a crashed attempt's own rows are never read
    val bid = 2L
    val tdir = java.nio.file.Paths.get(dir, "chunk_hashes")
    val v = java.nio.file.Files.readString(tdir.resolve(".gen")).trim.split("\\s+")(0)
    val bounds = java.nio.file.Files.readString(tdir.resolve(s".manifest.$v")).linesIterator
      .map(_.split('\t')).collect { case Array(_, rel, lo, hi) => rel -> ((lo.toLong, hi.toLong)) }
      .toMap
    val probe = store.readRange("chunk_hashes", "batch_id", Long.MinValue, bid - 1,
      StreamingText.HashesSchema)
    val scans = probe.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1, "expected one parquet scan in the state probe")
    val read = scans.head.inputRDD.partitions.toSeq.flatMap {
      case p: FilePartition => p.files.map(_.toPath.getParent.getName)
    }.distinct
    assert(read.nonEmpty && read.forall(d => bounds(d)._2 < bid),
      s"the probe read a dir not bounded below $bid: ${read.map(bounds)}")
    assert(probe.count() == 32L)
    assert(probe.count() == store.readOr("chunk_hashes", null)
      .filter(col("batch_id") < bid).count())
  }

  test("a crash between the chunk_dedup and chunk_hashes commits replays to the same state") {
    import org.apache.spark.sql.functions.col
    def fresh() = graft.chain.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-chunkcrash").toString)
    val b0 = Seq((1L, "a b c d"), (2L, "a b x y")).toDF("doc_id", "text")
    val b1 = Seq((3L, "c d x y q r"), (4L, "q r s t")).toDF("doc_id", "text")
    def dedup(s: graft.chain.TableStore) = s.readOr("chunk_dedup", null).collect().toSet
    def hashes(s: graft.chain.TableStore) = s.readOr("chunk_hashes", null)
      .select("h", "batch_id").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // the uncrashed run
    val ref = fresh()
    Seq(b0 -> 0L, b1 -> 1L).foreach { case (b, bid) =>
      StreamingText.processChunkBatch(ref, chunkTokens = 2)(b, bid)
    }
    // batch 1's commits, each of which a crash can leave without the other
    val landed = Seq(
      "chunk_hashes" -> ref.readOr("chunk_hashes", null).filter(col("batch_id") === 1L),
      "chunk_dedup" -> ref.readOr("chunk_dedup", null).filter(col("batch_id") === 1L))
    landed.foreach { case (table, rows) =>
      val s = fresh()
      StreamingText.processChunkBatch(s, chunkTokens = 2)(b0, 0L)
      s.appendRange(table, rows, "batch_id", 1L, 1L)
      StreamingText.processChunkBatch(s, chunkTokens = 2)(b1, 1L)
      assert(dedup(s) == dedup(ref), s"$table landed alone: replayed chunk_dedup differs")
      val hs = hashes(s)
      assert(hs.map(_._1).distinct.size == hs.size, s"$table landed alone: a hash row repeats")
      assert(hs.sorted == hashes(ref).sorted, s"$table landed alone: chunk_hashes differ")
    }
  }

  test("a chunk_hashes table in the hash-prefix layout fails the first batch loudly") {
    val store = graft.chain.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-chunkold").toString)
    store.appendPartitioned("chunk_hashes",
      Seq(("0a1b", 0L, 10)).toDF("h", "batch_id", "hp"), "hp")
    val ex = intercept[IllegalStateException](StreamingText.processChunkBatch(
      store, chunkTokens = 2)(Seq((1L, "a b")).toDF("doc_id", "text"), 1L))
    assert(ex.getMessage.contains("'chunk_hashes'") && ex.getMessage.contains("hp="), ex.getMessage)
  }
}
