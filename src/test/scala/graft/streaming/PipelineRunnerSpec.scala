package graft.streaming

import java.nio.file.Files
import graft.{PipelineRunner, SparkSpec}
import graft.PipelineRunner.Config
import org.apache.spark.sql.functions._

/** End-to-end drive of the deployable pipeline runner: config → file
  * source → composed faces → TableStore + metrics, including a
  * crash-replay of the whole composition (the per-face idempotency
  * disciplines must hold when one query drives all of them).
  */
class PipelineRunnerSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(ids: Seq[Long]) = ids.map { i =>
    val text =
      if (i % 10 == 3) s"the exact same duplicated paragraph body number ${i / 10}"
      else s"unique document body $i with its own words ${i * 31} and ${i * 17}"
    (i, text, if (i % 3 == 0) "en" else "de", s"src${i % 2}", text.length.toLong)
  }.toDF("doc_id", "text", "lang", "source", "n_chars")

  private def freshDirs(): (String, String, String) = (
    Files.createTempDirectory("pr-in").toString,
    Files.createTempDirectory("pr-data").toString,
    Files.createTempDirectory("pr-ckpt").toString)

  test("config parser: defaults, face validation, unknown keys rejected") {
    val cfg = PipelineRunner.parseConfig(
      """inputDir: /in
        |dataDir: /data
        |checkpointDir: /ckpt
        |faces:
        |  - hllSketch
        |quantileK: 16
        |""".stripMargin)
    assert(cfg.faces == Seq("hllSketch") && cfg.quantileK == 16 &&
      cfg.chunkTokens == 64 && cfg.metricsPort == 9093)
    val unknown = intercept[IllegalArgumentException](PipelineRunner.parseConfig(
      "inputDir: /in\ndataDir: /d\ncheckpointDir: /c\nchunktokens: 9\n"))
    assert(unknown.getMessage.contains("chunktokens"))
    val badFace = intercept[IllegalArgumentException](PipelineRunner.parseConfig(
      "inputDir: /in\ndataDir: /d\ncheckpointDir: /c\nfaces:\n  - nope\n"))
    assert(badFace.getMessage.contains("nope"))
    // sessions is selectable but demands its event drop dir up front
    val noEv = intercept[IllegalArgumentException](PipelineRunner.parseConfig(
      "inputDir: /in\ndataDir: /d\ncheckpointDir: /c\nfaces:\n  - sessions\n"))
    assert(noEv.getMessage.contains("eventsDir"))
    val withEv = PipelineRunner.parseConfig(
      """inputDir: /in
        |dataDir: /d
        |checkpointDir: /c
        |faces:
        |  - sessions
        |eventsDir: /ev
        |sessionGap: 10 minutes
        |""".stripMargin)
    assert(withEv.eventsDir.contains("/ev") && withEv.sessionGap == "10 minutes")
  }

  test("the release face runs the composed DAG end-to-end from a config file") {
    val (_, data, _) = freshDirs()
    // the composed DAG must run alone — a release is a job, not a stream
    val mixed = intercept[IllegalArgumentException](PipelineRunner.parseConfig(
      "inputDir: /in\ndataDir: /d\ncheckpointDir: /c\nfaces:\n  - release\n  - chunkDedup\n"))
    assert(mixed.getMessage.contains("alone"))
    val cfgFile = Files.createTempFile("pr-release", ".yaml")
    Files.writeString(cfgFile,
      s"""inputDir: /root/testdata/sf0.001/documents.parquet
         |dataDir: $data
         |checkpointDir: /unused-for-a-batch-face
         |faces:
         |  - release
         |releaseShards: 4
         |releaseTokenBudget: 500000
         |""".stripMargin)
    val cfg = PipelineRunner.parseConfig(Files.readString(cfgFile))
    assert(cfg.faces == Seq("release") && cfg.releaseShards == 4 &&
      cfg.releaseTokenBudget == 500000L)
    // start() refuses the batch face — the main dispatches to runRelease
    val wrong = intercept[IllegalArgumentException](PipelineRunner.start(spark, cfg))
    assert(wrong.getMessage.contains("runRelease"))
    val n = PipelineRunner.runRelease(spark, cfg)
    assert(n > 0L, "the release must keep a non-empty corpus")
    val store = graft.chain.TableStore(spark, data)
    val rel = store.readOr(cfg.releaseTable, null)
    assert(rel.count() == n)
    assert(rel.columns.toSet ==
      Set("doc_id", "source", "n_tokens", "weight", "alloc_tokens", "shard", "pos"))
    // no eval docs released; the shard layout landed (partition pruning)
    assert(rel.filter(col("source") === cfg.releaseEvalSource).count() == 0L)
    assert(rel.select("shard").distinct().count() <= 4L)
    // re-running REPLACES (a release is a rebuild, not an append). The
    // reader is a FRESH store instance: the first reader's caches are
    // only invalidated by mutations through ITS OWN instance (the store's
    // single-writer contract), and runRelease commits through its own.
    val n2 = PipelineRunner.runRelease(spark, cfg)
    assert(n2 == n)
    assert(graft.chain.TableStore(spark, data)
      .readOr(cfg.releaseTable, null).count() == n)
  }

  test("the sessions face fails fast on a remembered user-id type mismatch") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val (in, data, ckpt) = freshDirs()
    val ev = Files.createTempDirectory("pr-ev-mig").toString
    docsDf(0L until 3L).write.mode("append").parquet(in)
    Seq((1L, ts("2024-01-01 00:00:00"), 1L))
      .toDF("user_id", "ts", "event_id").write.mode("append").parquet(ev)
    // an existing sessions table written under LONG user ids (the
    // pre-round-15 build's cast): remember the schema via one write
    val store = graft.chain.TableStore(spark, data)
    StreamingSessions.processSessionBatch(store)(
      Seq((7L, ts("2024-03-01 00:00:00"), ts("2024-03-01 00:10:00"),
          2L, ts("2024-03-01 00:05:00")))
        .toDF("user_id", "session_start", "session_end", "n_events", "last_ts"), 1L)
    // the upgraded deployment's events now carry STRING user ids
    val cfg = Config(inputDir = in, dataDir = data, checkpointDir = ckpt,
      faces = Seq("chunkDedup", "sessions"), metricsPort = -1, triggerSeconds = 1,
      eventsDir = Some(ev), sessionGap = "10 minutes",
      eventsSchema = Some("user_id STRING, ts TIMESTAMP, event_id LONG"))
    val ex = intercept[IllegalArgumentException](PipelineRunner.start(spark, cfg))
    assert(ex.getMessage.contains("user_id") && ex.getMessage.contains("wipe"),
      s"the mismatch must name the migration, got: ${ex.getMessage}")
    // matching DDL starts cleanly
    val ok = cfg.copy(eventsSchema = Some("user_id LONG, ts TIMESTAMP, event_id LONG"))
    val w = PipelineRunner.start(spark, ok)
    try w.query.processAllAvailable() finally w.close()
  }

  test("the wired query drives every face end-to-end, incrementally, with metrics") {
    val (in, data, ckpt) = freshDirs()
    docsDf(0L until 40L).write.mode("append").parquet(in)
    val cfg = Config(inputDir = in, dataDir = data, checkpointDir = ckpt,
      metricsPort = 0, triggerSeconds = 1, quantileK = 8)
    val w = PipelineRunner.start(spark, cfg)
    try {
      w.query.processAllAvailable()
      val store = w.store
      // every face landed its tables
      assert(store.readOr("chunk_dedup", null).count() == 40L)
      assert(store.exists("lsh_postings") && store.exists("near_dups"))
      assert(store.readOr("hll_cardinality", null)
        .select("g").distinct().count() == 2L) // src0/src1
      val q = store.readOr("bk_quantiles", null)
      assert(q.select("g").distinct().count() == 2L) // en/de
      // the near-dup face caught the planted duplicates (ids ≡ 3 mod 10
      // share text bodies pairwise per decade pair — at minimum the table
      // has rows and no self-verdicts)
      val nd = store.readOr("near_dups", null)
      assert(nd.filter(col("dup_of") === col("doc_id")).count() == 0L)
      // second drop lands incrementally under the SAME query; its last
      // document is a copy of first-drop document 1, so it must resolve
      // against the index the first batch built
      docsDf(40L until 59L).union(docsDf(Seq(1L)).withColumn("doc_id", lit(59L)))
        .write.mode("append").parquet(in)
      w.query.processAllAvailable()
      assert(store.readOr("near_dups", null).filter(col("doc_id") === 59L)
        .select("dup_of").collect().map(_.getLong(0)).toSeq == Seq(1L))
      assert(store.readOr("chunk_dedup", null).select("doc_id").distinct().count() == 60L)
      assert(w.metrics.batches.get() >= 2L && w.metrics.docs.get() == 60L)
      // the metrics endpoint serves the pipeline counters
      val port = w.metricsServer.get.port
      val body = scala.io.Source.fromURL(s"http://127.0.0.1:$port/metrics").mkString
      assert(body.contains("graft_pipeline_batches") &&
        body.contains("graft_pipeline_batch_seconds_count"))
      // one face-seconds series per configured face, counted per batch
      val batches = body.linesIterator.collectFirst {
        case l if l.startsWith("graft_pipeline_batches ") => l.split(' ')(1)
      }
      assert(body.linesIterator.count(_ == "# TYPE graft_pipeline_face_seconds histogram") == 1)
      cfg.faces.foreach { f =>
        assert(body.linesIterator.map(_.split(' ')).collectFirst {
          case Array(k, v) if k == s"""graft_pipeline_face_seconds_count{face="$f"}""" => v
        } == batches, s"face $f's histogram must count every batch")
      }
      assert(body.linesIterator.count(_.startsWith("graft_pipeline_face_seconds_count")) ==
        cfg.faces.size)
      // and every document face's category state tables' live file counts
      Seq("chunk_hashes", "lsh_postings").foreach { t =>
        val files = store.fileCounts(t).values.sum
        assert(files > 0L)
        assert(body.linesIterator.contains(s"""graft_pipeline_state_files{table="$t"} $files"""),
          s"the scrape must carry $t's $files state files")
      }
    } finally w.close()
  }

  test("a crash-replay of the composed query converges (restart from checkpoint)") {
    val (in, data, ckpt) = freshDirs()
    docsDf(0L until 30L).write.mode("append").parquet(in)
    val cfg = Config(inputDir = in, dataDir = data, checkpointDir = ckpt,
      metricsPort = -1, triggerSeconds = 1, quantileK = 8)
    val w1 = PipelineRunner.start(spark, cfg)
    try w1.query.processAllAvailable() finally w1.close()
    val before = {
      val s = w1.store
      (s.readOr("chunk_dedup", null).count(),
        s.readOr("chunk_hashes", null).count(),
        s.readOr("hll_cardinality", null).orderBy("batch_id", "g")
          .select("g", "hll_est").collect().toSeq,
        s.readOr("bk_sample", null).count())
    }
    // "crash" after the store committed but before the checkpoint advanced:
    // wipe the checkpoint's commit marker for the last batch so the restart
    // REPLAYS it — the canonical foreachBatch at-least-once window
    import scala.jdk.CollectionConverters._
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    val last = Files.list(commits).iterator().asScala.toSeq
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).map(_.toLong).max
    Files.delete(commits.resolve(last.toString))
    Files.deleteIfExists(commits.resolve(s".$last.crc")) // Hadoop local-FS sidecar
    val w2 = PipelineRunner.start(spark, cfg)
    try w2.query.processAllAvailable() finally w2.close()
    val after = {
      val s = w2.store
      (s.readOr("chunk_dedup", null).count(),
        s.readOr("chunk_hashes", null).count(),
        s.readOr("hll_cardinality", null).orderBy("batch_id", "g")
          .select("g", "hll_est").collect().toSeq,
        s.readOr("bk_sample", null).count())
    }
    assert(after == before, "replaying the last batch must be a no-op across every face")
  }

  test("the sessions face runs as its own stateful query; finalized sessions land idempotently") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val (in, data, ckpt) = freshDirs()
    val ev = Files.createTempDirectory("pr-ev").toString
    docsDf(0L until 5L).write.mode("append").parquet(in)
    Seq((1L, ts("2024-01-01 00:00:00"), 1L), (1L, ts("2024-01-01 00:05:00"), 2L),
        (2L, ts("2024-01-01 00:00:00"), 3L))
      .toDF("user_id", "ts", "event_id").write.mode("append").parquet(ev)
    val cfg = Config(inputDir = in, dataDir = data, checkpointDir = ckpt,
      faces = Seq("chunkDedup", "sessions"), metricsPort = -1, triggerSeconds = 1,
      eventsDir = Some(ev), sessionGap = "10 minutes")
    val w = PipelineRunner.start(spark, cfg)
    try {
      w.query.processAllAvailable()
      w.sessionQuery.get.processAllAvailable()
      // a far-future drop pushes the watermark past every open session's
      // close, so the two day-1 sessions finalize and land
      Seq((9L, ts("2024-01-02 00:00:00"), 99L))
        .toDF("user_id", "ts", "event_id").write.mode("append").parquet(ev)
      w.sessionQuery.get.processAllAvailable()
      val sess = w.store.readOr(StreamingSessions.SessionsTable, null)
        .select("user_id", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(sess == Set((1L, 2L), (2L, 1L)),
        s"day-1 sessions must finalize (user 9's is still open): $sess")
      assert(w.metrics.sessions.get() == 2L)
      // the doc faces ran under their own query, untouched by the second one
      assert(w.store.readOr("chunk_dedup", null).count() == 5L)
      // a replayed sink batch converges (delete-then-append bracket)
      val fixture = Seq((7L, ts("2024-03-01 00:00:00"), ts("2024-03-01 00:10:00"),
          2L, ts("2024-03-01 00:05:00")))
        .toDF("user_id", "session_start", "session_end", "n_events", "last_ts")
      val before = w.store.readOr(StreamingSessions.SessionsTable, null).count()
      StreamingSessions.processSessionBatch(w.store)(fixture, 55L)
      StreamingSessions.processSessionBatch(w.store)(fixture, 55L)
      val after = w.store.readOr(StreamingSessions.SessionsTable, null).count()
      assert(after == before + 1, s"replay must not duplicate ($before -> $after)")
    } finally w.close()
  }

  test("the retrain face: drift → sampled re-train → recall-checked swap, end-to-end") {
    val (in, data, ckpt) = freshDirs()
    val emb = Files.createTempDirectory("pr-emb2").toString
    val cent = Files.createTempDirectory("pr-cent2").toString + "/centroids.parquet"
    docsDf(0L until 5L).write.mode("append").parquet(in)
    def vec(a: Double) = Array(math.cos(a).toFloat, math.sin(a).toFloat)
    // DRIFTED quantizer: both centroids inside cluster A's fan, so the
    // A/B corpus drops with A split 5/5 and all of B lumped into one cell
    Seq((100L, vec(0.0)), (101L, vec(0.09)))
      .toDF("vec_id", "embedding").write.parquet(cent)
    val vecs = (0L until 10L).map(i => (i, vec(0.02 * i))) ++
      (10L until 20L).map(i => (i, vec(math.Pi / 2 + 0.02 * (i - 10))))
    vecs.toDF("vec_id", "embedding").write.mode("append").parquet(emb)
    val cfg = Config(inputDir = in, dataDir = data, checkpointDir = ckpt,
      faces = Seq("chunkDedup", "ivfIndex", "retrain"), metricsPort = -1,
      triggerSeconds = 1, embeddingsDir = Some(emb), centroidsPath = Some(cent),
      retrainThreshold = 1.4, retrainRounds = 3, retrainSamplePermille = 1000,
      retrainProbes = 8)
    val w = PipelineRunner.start(spark, cfg)
    try {
      w.query.processAllAvailable()
      w.ivfQuery.get.processAllAvailable()
      assert(w.metrics.retrains.get() >= 1L,
        "the drifted drop must have triggered a recall-checked retrain")
      // the swapped quantizer re-balanced the index...
      val postings = w.store.readOr(IvfRetrain.PostingsTable, null)
      val (n, _, imb) = IvfRetrain.imbalance(postings)
      assert(n == 20L, "the rebuild must preserve every vector")
      assert(imb <= 1.4, s"the maintained index must be re-balanced, imbalance $imb")
      // ...the pair is consistent under the STORE's (new) centroids...
      val liveCents = w.store.readOr(IvfRetrain.CentroidsTable, null)
      assert(IvfRetrain.consistent(postings, liveCents, auditPermille = 1000))
      // ...and a further drop assigns under the NEW centroids (the face
      // reads centroids from the store, so the swap took effect)
      Seq((50L, vec(math.Pi / 2))).toDF("vec_id", "embedding")
        .write.mode("append").parquet(emb)
      w.ivfQuery.get.processAllAvailable()
      val again = w.store.readOr(IvfRetrain.PostingsTable, null)
      assert(again.count() == 21L)
      assert(IvfRetrain.consistent(again, w.store.readOr(IvfRetrain.CentroidsTable, null),
        auditPermille = 1000), "post-swap appends must assign under the new centroids")
    } finally w.close()
  }

  test("the ivfIndex face maintains the ANN posting lists from an embeddings drop") {
    val (in, data, ckpt) = freshDirs()
    val emb = Files.createTempDirectory("pr-emb").toString
    val cent = Files.createTempDirectory("pr-cent").toString + "/centroids.parquet"
    docsDf(0L until 5L).write.mode("append").parquet(in)
    // 2-D fan around two orthogonal centroids → unambiguous assignment
    def v(i: Long) = {
      val a = (i % 2) * (math.Pi / 2) + (i / 2) * 0.05
      (i, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }
    Seq((100L, Array(1.0f, 0.0f)), (101L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding").write.parquet(cent)
    (0L until 6L).map(v).toDF("vec_id", "embedding")
      .write.mode("append").parquet(emb)
    val cfg = Config(inputDir = in, dataDir = data, checkpointDir = ckpt,
      faces = Seq("chunkDedup", "ivfIndex"), metricsPort = -1, triggerSeconds = 1,
      embeddingsDir = Some(emb), centroidsPath = Some(cent))
    val w = PipelineRunner.start(spark, cfg)
    try {
      w.query.processAllAvailable()
      w.ivfQuery.get.processAllAvailable()
      val postings = w.store.read("ivf_postings", StreamingSimilarity.postingsSchema)
      assert(postings.count() == 6L)
      assert(postings.select("centroid_id").distinct().count() == 2L)
      // a second drop accumulates under the same query
      (6L until 10L).map(v).toDF("vec_id", "embedding")
        .write.mode("append").parquet(emb)
      w.ivfQuery.get.processAllAvailable()
      assert(w.store.read("ivf_postings", StreamingSimilarity.postingsSchema)
        .count() == 10L)
      assert(w.metrics.vectors.get() == 10L)
      assert(w.metrics.stateFiles.get("ivf_postings")
        .contains(w.store.fileCounts("ivf_postings").values.sum))
      // and the maintained index answers queries through the query face
      val probes = Seq(v(0L)).toDF("vec_id", "embedding")
      val res = StreamingSimilarity.ivfTopKFromPostings(w.store, probes,
        spark.read.parquet(cent), "vec_id", "embedding", k = 3, nProbe = 1)
      assert(res.count() == 3L)
    } finally w.close()
  }
}
