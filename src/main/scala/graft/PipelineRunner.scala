package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.chain.TableStore
import graft.streaming._

/** The deployable entry point for the LLM-data-pipeline side — the
  * corpus-telemetry analogue of [[Indexer]] (which mirrors the
  * reference's `cmd/indexer`, cmd/indexer/root.go:88-177): read a small
  * YAML config, watch a directory for document parquet drops, and run
  * the selected streaming faces — chunk-level dedup, MinHash/LSH
  * near-dup indexing, HLL distinct sketching, bottom-k quantile
  * telemetry — continuously against a [[TableStore]], with a Prometheus
  * metrics endpoint on the side. Without this main, the streaming faces
  * were library code a user had to wire by hand.
  *
  * Config file (flat `key: value` lines, snakeyaml SafeConstructor,
  * unknown keys rejected — the [[Indexer.parseConfig]] discipline):
  *
  * {{{
  * inputDir: /var/lib/graft/incoming     # document parquet drop dir
  * dataDir: /var/lib/graft/pipeline      # TableStore root
  * checkpointDir: /var/lib/graft/pipeline-ckpt
  * faces:                                # any subset (independent; the
  *                                       # document faces run concurrently)
  *   - chunkDedup
  *   - lshDedup
  *   - hllSketch
  *   - quantiles
  *   - sessions                          # needs eventsDir (own query)
  *   - ivfIndex                          # needs embeddingsDir+centroidsPath
  * metricsPort: 9093                     # <0 disables
  * master: local[*]
  * triggerSeconds: 10                    # micro-batch cadence
  * chunkTokens: 64                       # chunkDedup granularity
  * shingleSize: 3                        # lshDedup ...
  * numHashes: 64
  * bands: 16
  * simThreshold: 0.7
  * hllM: 1024                            # hllSketch registers/group
  * hllGroupCol: source
  * hllValueCol: doc_id
  * quantileK: 64                         # quantiles sample size/group
  * quantileGroupCol: lang
  * quantileValueCol: n_chars
  * quantileIdCol: doc_id
  * dedupRetentionBatches: 1000           # optional: sliding-window dedup —
  *                                       # chunk/LSH state prunes to the
  *                                       # last N batches (absent = exact,
  *                                       # unbounded — see the faces' docs)
  * eventsDir: /var/lib/graft/events      # sessions' event drop dir
  * eventsSchema: "user_id STRING, ts TIMESTAMP"   # optional DDL; else
  *                                       # inferred from files in eventsDir
  * sessionGap: 30 minutes                # sessions ...
  * sessionWatermark: 0 seconds
  * sessionUserCol: user_id
  * sessionTsCol: ts
  * embeddingsDir: /var/lib/graft/embeds  # ivfIndex's drop dir
  * embeddingsSchema: "vec_id LONG, embedding ARRAY<FLOAT>"  # optional DDL
  * centroidsPath: /var/lib/graft/centroids.parquet
  * ivfIdCol: vec_id
  * ivfVecCol: embedding
  * }}}
  *
  * One streaming query drives ALL selected faces inside one
  * `foreachBatch` — a single checkpoint, a single batch-id sequence, and
  * each face's own replay-idempotency discipline (batch tags, algebraic
  * state) then makes a crash-replay of the whole composition converge,
  * exactly as each face's spec proves in isolation.
  *
  * Scale shape: the input is whatever lands in `inputDir` per trigger;
  * each face's per-batch work is bounded by the batch or by its state's
  * compacted dirs (state probes over batch-ranged dirs, count-gated
  * candidate stages, ≤groups×k / groups×m state relations — see each
  * face's scaladoc). Nothing here adds a corpus-sized stage on top.
  */
object PipelineRunner {

  /** Faces sharing the document foreachBatch, in run order. */
  val BatchFaceNames: Seq[String] = Seq("chunkDedup", "lshDedup", "hllSketch", "quantiles")

  /** All selectable faces. Three are NOT document-foreachBatch faces:
    * `sessions` is Spark's stateful `session_window` aggregation, which
    * only exists on a streaming DataFrame, over `eventsDir`; `ivfIndex`
    * maintains the IVF ANN posting lists over an `embeddingsDir` drop
    * (embeddings arrive on their own cadence from the embedding service,
    * not with the raw documents); `retrain` (requires `ivfIndex`) runs
    * the quantizer-maintenance check after each embedding batch — when
    * cell imbalance crosses `retrainThreshold`, [[streaming.IvfRetrain]]
    * re-trains on a sample and swaps centroids + postings through the
    * store's staged-swap discipline, gated on recall not dropping. With
    * `retrain` on, centroids live in the store's `ivf_centroids` table
    * (seeded from `centroidsPath` at first start) so a swap takes effect
    * on the next batch. `release` is the ONE-SHOT BATCH face: the
    * composed data-release DAG ([[graft.operators.Release]], the r11
    * query — gates → canon → dedup → decontaminate → mixture → shard) run
    * over `inputDir` as a single batch job, its output replaced into the
    * store's `releaseTable` partitioned by shard, then exit. It runs
    * ALONE (a release is a job, not a resident stream), making the
    * composed DAG deployable from a config file like every streaming
    * face — the reference's config-wired composition,
    * cmd/indexer/root.go:88-177.
    */
  val FaceNames: Seq[String] = BatchFaceNames ++ Seq("sessions", "ivfIndex", "retrain", "release")

  /** The index and state tables of each face that keeps any: their live
    * file counts are exported after every batch.
    */
  private val StateTables: Map[String, Seq[String]] = Map(
    "chunkDedup" -> Seq("chunk_hashes"),
    "lshDedup"   -> Seq(StreamingDedup.PostingsTable),
    "ivfIndex"   -> Seq("ivf_postings"))

  final case class Config(
      inputDir: String,
      dataDir: String,
      checkpointDir: String,
      faces: Seq[String] = BatchFaceNames,
      metricsPort: Int = 9093,
      master: String = "local[*]",
      triggerSeconds: Int = 10,
      chunkTokens: Int = 64,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      simThreshold: Double = 0.7,
      hllM: Int = 1024,
      hllGroupCol: String = "source",
      hllValueCol: String = "doc_id",
      quantileK: Int = 64,
      quantileGroupCol: String = "lang",
      quantileValueCol: String = "n_chars",
      quantileIdCol: String = "doc_id",
      dedupRetentionBatches: Option[Long] = None,
      eventsDir: Option[String] = None,
      eventsSchema: Option[String] = None,
      sessionGap: String = "30 minutes",
      sessionWatermark: String = "0 seconds",
      sessionUserCol: String = "user_id",
      sessionTsCol: String = "ts",
      embeddingsDir: Option[String] = None,
      embeddingsSchema: Option[String] = None,
      centroidsPath: Option[String] = None,
      ivfIdCol: String = "vec_id",
      ivfVecCol: String = "embedding",
      retrainThreshold: Double = 3.0,
      retrainRounds: Int = 3,
      retrainSamplePermille: Int = 250,
      retrainProbes: Int = 16,
      retrainEvery: Int = 1,
      releaseTable: String = "release",
      releaseIdCol: String = "doc_id",
      releaseTextCol: String = "text",
      releaseSourceCol: String = "source",
      releaseQualityCol: String = "n_chars",
      releaseEvalSource: String = "src0",
      releaseAlpha: Double = 0.5,
      releaseTokenBudget: Long = 1000000L,
      releaseMaxEpochs: Double = 4.0,
      releaseGramSize: Int = 4,
      releaseShards: Int = 8,
      releaseSeed: String = "release1")

  def parseConfig(text: String): Config = {
    import scala.jdk.CollectionConverters._
    val yaml = new org.yaml.snakeyaml.Yaml(
      new org.yaml.snakeyaml.constructor.SafeConstructor(
        new org.yaml.snakeyaml.LoaderOptions()))
    val root = yaml.load[java.util.Map[String, Object]](text)
    require(root != null, "empty config")
    val m = root.asScala.toMap
    val known = Set("inputDir", "dataDir", "checkpointDir", "faces",
      "metricsPort", "master", "triggerSeconds", "chunkTokens", "shingleSize",
      "numHashes", "bands", "simThreshold", "hllM", "hllGroupCol",
      "hllValueCol", "quantileK", "quantileGroupCol", "quantileValueCol",
      "quantileIdCol", "dedupRetentionBatches",
      "eventsDir", "eventsSchema", "sessionGap", "sessionWatermark",
      "sessionUserCol", "sessionTsCol", "embeddingsDir", "embeddingsSchema",
      "centroidsPath", "ivfIdCol", "ivfVecCol", "retrainThreshold",
      "retrainRounds", "retrainSamplePermille", "retrainProbes", "retrainEvery",
      "releaseTable", "releaseIdCol", "releaseTextCol", "releaseSourceCol",
      "releaseQualityCol", "releaseEvalSource", "releaseAlpha",
      "releaseTokenBudget", "releaseMaxEpochs", "releaseGramSize",
      "releaseShards", "releaseSeed")
    val unknown = m.keySet -- known
    require(unknown.isEmpty,
      s"unknown config keys: ${unknown.toSeq.sorted.mkString(", ")}")
    def str(k: String): String = m.get(k) match {
      case Some(v) if v != null => String.valueOf(v)
      case _ => throw new IllegalArgumentException(s"config key '$k' is required")
    }
    def opt[T](k: String, parse: String => T, d: T): T =
      m.get(k).map(v => parse(String.valueOf(v))).getOrElse(d)
    val faces = m.get("faces") match {
      case Some(l: java.util.List[_]) =>
        val fs = l.asScala.map(String.valueOf).toSeq
        val bad = fs.filterNot(FaceNames.contains)
        require(bad.isEmpty,
          s"unknown faces: ${bad.mkString(", ")} (known: ${FaceNames.mkString(", ")})")
        fs
      case Some(other) =>
        throw new IllegalArgumentException(s"config key 'faces' must be a list, got: $other")
      case None => BatchFaceNames
    }
    require(!faces.contains("sessions") || m.contains("eventsDir"),
      "the 'sessions' face requires 'eventsDir' (the event parquet drop dir)")
    require(!faces.contains("ivfIndex") ||
        (m.contains("embeddingsDir") && m.contains("centroidsPath")),
      "the 'ivfIndex' face requires 'embeddingsDir' and 'centroidsPath'")
    require(!faces.contains("retrain") || faces.contains("ivfIndex"),
      "the 'retrain' face maintains the index 'ivfIndex' builds — enable both")
    require(!faces.contains("release") || faces == Seq("release"),
      "the 'release' face is a one-shot batch job and runs alone")
    val base = Config(inputDir = str("inputDir"), dataDir = str("dataDir"),
      checkpointDir = str("checkpointDir"), faces = faces)
    base.copy(
      metricsPort      = opt("metricsPort", _.toInt, base.metricsPort),
      master           = opt("master", identity, base.master),
      triggerSeconds   = opt("triggerSeconds", _.toInt, base.triggerSeconds),
      chunkTokens      = opt("chunkTokens", _.toInt, base.chunkTokens),
      shingleSize      = opt("shingleSize", _.toInt, base.shingleSize),
      numHashes        = opt("numHashes", _.toInt, base.numHashes),
      bands            = opt("bands", _.toInt, base.bands),
      simThreshold     = opt("simThreshold", _.toDouble, base.simThreshold),
      hllM             = opt("hllM", _.toInt, base.hllM),
      hllGroupCol      = opt("hllGroupCol", identity, base.hllGroupCol),
      hllValueCol      = opt("hllValueCol", identity, base.hllValueCol),
      quantileK        = opt("quantileK", _.toInt, base.quantileK),
      quantileGroupCol = opt("quantileGroupCol", identity, base.quantileGroupCol),
      quantileValueCol = opt("quantileValueCol", identity, base.quantileValueCol),
      quantileIdCol    = opt("quantileIdCol", identity, base.quantileIdCol),
      dedupRetentionBatches = m.get("dedupRetentionBatches")
        .map(v => String.valueOf(v).toLong),
      eventsDir        = m.get("eventsDir").map(String.valueOf),
      eventsSchema     = m.get("eventsSchema").map(String.valueOf),
      sessionGap       = opt("sessionGap", identity, base.sessionGap),
      sessionWatermark = opt("sessionWatermark", identity, base.sessionWatermark),
      sessionUserCol   = opt("sessionUserCol", identity, base.sessionUserCol),
      sessionTsCol     = opt("sessionTsCol", identity, base.sessionTsCol),
      embeddingsDir    = m.get("embeddingsDir").map(String.valueOf),
      embeddingsSchema = m.get("embeddingsSchema").map(String.valueOf),
      centroidsPath    = m.get("centroidsPath").map(String.valueOf),
      ivfIdCol         = opt("ivfIdCol", identity, base.ivfIdCol),
      ivfVecCol        = opt("ivfVecCol", identity, base.ivfVecCol),
      retrainThreshold = opt("retrainThreshold", _.toDouble, base.retrainThreshold),
      retrainRounds    = opt("retrainRounds", _.toInt, base.retrainRounds),
      retrainSamplePermille =
        opt("retrainSamplePermille", _.toInt, base.retrainSamplePermille),
      retrainProbes    = opt("retrainProbes", _.toInt, base.retrainProbes),
      retrainEvery     = opt("retrainEvery", _.toInt, base.retrainEvery),
      releaseTable     = opt("releaseTable", identity, base.releaseTable),
      releaseIdCol     = opt("releaseIdCol", identity, base.releaseIdCol),
      releaseTextCol   = opt("releaseTextCol", identity, base.releaseTextCol),
      releaseSourceCol = opt("releaseSourceCol", identity, base.releaseSourceCol),
      releaseQualityCol = opt("releaseQualityCol", identity, base.releaseQualityCol),
      releaseEvalSource = opt("releaseEvalSource", identity, base.releaseEvalSource),
      releaseAlpha     = opt("releaseAlpha", _.toDouble, base.releaseAlpha),
      releaseTokenBudget = opt("releaseTokenBudget", _.toLong, base.releaseTokenBudget),
      releaseMaxEpochs = opt("releaseMaxEpochs", _.toDouble, base.releaseMaxEpochs),
      releaseGramSize  = opt("releaseGramSize", _.toInt, base.releaseGramSize),
      releaseShards    = opt("releaseShards", _.toInt, base.releaseShards),
      releaseSeed      = opt("releaseSeed", identity, base.releaseSeed))
  }

  /** The `release` face: the composed data-release DAG as one batch job —
    * read the corpus from `inputDir`, run every curation stage
    * ([[graft.operators.Release.releasePipeline]]), REPLACE the store's
    * `releaseTable` with the result partitioned by shard (staged write,
    * one commit — a crashed release leaves the previous release live, the
    * store's usual discipline), and return the released row count. The
    * shard partitioning is the write shape downstream consumers prune on.
    */
  def runRelease(spark: SparkSession, cfg: Config): Long = {
    val store = TableStore(spark, cfg.dataDir)
    val docs = spark.read.parquet(cfg.inputDir)
    val out = graft.operators.Release.releasePipeline(docs,
      cfg.releaseIdCol, cfg.releaseTextCol, cfg.releaseSourceCol,
      cfg.releaseQualityCol, cfg.releaseEvalSource, cfg.releaseAlpha,
      cfg.releaseTokenBudget, cfg.releaseMaxEpochs, cfg.releaseGramSize,
      cfg.releaseShards, cfg.releaseSeed)
    val (stage, promote) = store.stageReplaceAll(
      Seq(cfg.releaseTable -> out),
      partitionBy = Map(cfg.releaseTable -> "shard"))
    stage.foreach(_.apply())
    promote()
    store.readOr(cfg.releaseTable, null).count()
  }

  /** Schema for a file-source stream over `dir`: the explicit DDL from
    * the config when given (`eventsSchema` / `embeddingsSchema`, e.g.
    * `"user_id STRING, ts TIMESTAMP"`), else inference from the files
    * already in the drop dir. A freshly provisioned deployment's drop dir
    * is empty or missing — the NORMAL state at first start — so inference
    * alone would crash the runner; with no files and no DDL the error
    * says which config key fixes it instead of surfacing Spark's
    * "unable to infer schema".
    */
  private[graft] def streamSchema(spark: SparkSession, dir: String,
                                  ddl: Option[String], key: String)
      : org.apache.spark.sql.types.StructType =
    ddl match {
      case Some(s) => org.apache.spark.sql.types.StructType.fromDDL(s)
      case None =>
        try spark.read.parquet(dir).schema
        catch { case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"cannot infer the stream schema from '$dir' (empty or missing — " +
            s"normal for a fresh deployment); set '$key' in the config, e.g. " +
            s"""$key: "user_id STRING, ts TIMESTAMP"""", e)
        }
    }

  /** Driver-side operational counters, served as Prometheus text. */
  final class PipelineMetrics extends Serializable {
    val batches  = new AtomicLong
    val docs     = new AtomicLong
    val sessions = new AtomicLong
    val vectors  = new AtomicLong
    val retrains = new AtomicLong
    val batchSeconds = new LatencyHistogram
    /** Seconds per document face per batch, observed with `batches`. */
    val faceSeconds = new scala.collection.concurrent.TrieMap[String, LatencyHistogram]
    /** Live data files per state table, as of its face's last batch. */
    val stateFiles = new scala.collection.concurrent.TrieMap[String, Long]

    /** Set `stateFiles` for `tables` from the store's file counts, which
      * come from its seeded status cache: no listing, no Spark job.
      */
    def recordStateFiles(store: TableStore, tables: Seq[String]): Unit =
      tables.foreach(t => stateFiles.put(t, store.fileCounts(t).values.sum))

    def render(): String = {
      val sb = new StringBuilder
      def metric(name: String, kind: String, v: Long): Unit = {
        sb.append("# TYPE ").append(name).append(' ').append(kind).append('\n')
        sb.append(name).append(' ').append(v).append('\n')
      }
      metric("graft_pipeline_batches", "counter", batches.get())
      metric("graft_pipeline_docs", "counter", docs.get())
      metric("graft_pipeline_sessions", "counter", sessions.get())
      metric("graft_pipeline_vectors", "counter", vectors.get())
      metric("graft_pipeline_retrains", "counter", retrains.get())
      MetricsServer.renderHistogram(sb, "graft_pipeline_batch_seconds", batchSeconds)
      MetricsServer.renderHistogram(sb, "graft_pipeline_face_seconds", "face",
        faceSeconds.toSeq.sortBy(_._1))
      MetricsServer.renderTableGauge(sb, "graft_pipeline_state_files", stateFiles)
      sb.toString
    }
  }

  /** The composed foreachBatch body — public so the spec can drive a
    * single batch directly and so an embedding caller can re-wire it
    * under its own query.
    *
    * The faces are INDEPENDENT (disjoint state tables, all reading the
    * one materialized batch), so they run concurrently through the chain
    * side's [[graft.chain.Par]] bracket — a micro-batch's wall clock is
    * dominated by Spark job-launch latency, not data volume, and the
    * overlap is what keeps a small trigger from serializing four faces'
    * job chains on the driver. Failure contract: the bracket SETTLES —
    * every face finishes (success or failure) before the first failure
    * propagates — so by the time a replay of batch N begins (in-process
    * query restart or JVM restart alike) no stale sibling append for N
    * is still in flight; each face's own replay idempotency (batch tags /
    * algebraic state) then converges the composition.
    */
  def processBatch(store: TableStore, cfg: Config,
                   metrics: Option[PipelineMetrics] = None)
                  (batch: DataFrame, bid: Long): Unit = {
    val t0 = System.nanoTime()
    // one materialization shared by every face (and the metrics count):
    // foreachBatch re-plans the source per action otherwise
    val b = batch.localCheckpoint(true)
    // each document face's seconds, observed once the whole batch has
    // landed, so every face's count equals `batches`
    val faceSecs = scala.collection.concurrent.TrieMap.empty[String, Double]
    def timed(face: String)(run: => Unit): () => Unit = () => {
      val f0 = System.nanoTime(); run; faceSecs.put(face, (System.nanoTime() - f0) / 1e9): Unit
    }
    val thunks: Seq[() => Unit] = cfg.faces.map {
      case f @ "chunkDedup" => timed(f)(
        StreamingText.processChunkBatch(store, cfg.chunkTokens,
          cfg.dedupRetentionBatches)(b, bid))
      case f @ "lshDedup" => timed(f)(
        StreamingDedup.processLshBatch(store, cfg.shingleSize, cfg.numHashes,
          cfg.bands, cfg.simThreshold, retentionBatches = cfg.dedupRetentionBatches)(b, bid))
      case f @ "hllSketch" => timed(f)(
        StreamingSketch.processSketchBatch(store, cfg.hllGroupCol,
          cfg.hllValueCol, cfg.hllM)(b, bid))
      case f @ "quantiles" => timed(f)(
        StreamingQuantiles.processQuantileBatch(store, cfg.quantileGroupCol,
          cfg.quantileValueCol, cfg.quantileIdCol, cfg.quantileK)(b, bid))
      case "sessions" => () =>
        () // stateful session_window face: its own query, wired in start()
      case "ivfIndex" => () =>
        () // embeddings-drop face: its own query, wired in start()
      case "retrain" => () =>
        () // maintenance check inside the ivfIndex batch: wired in start()
      case other => throw new IllegalArgumentException(s"unknown face: $other")
    }
    graft.chain.Par.run(thunks)
    metrics.foreach { pm =>
      faceSecs.foreach { case (f, s) => pm.faceSeconds.getOrElseUpdate(f, new LatencyHistogram).observe(s) }
      pm.batches.incrementAndGet()
      pm.docs.addAndGet(b.count())
      pm.batchSeconds.observe((System.nanoTime() - t0) / 1e9)
      pm.recordStateFiles(store,
        cfg.faces.filter(BatchFaceNames.contains).flatMap(StateTables.getOrElse(_, Nil)))
    }
  }

  final case class Wiring(
      query: StreamingQuery,
      metrics: PipelineMetrics,
      metricsServer: Option[MetricsServer],
      store: TableStore,
      sessionQuery: Option[StreamingQuery] = None,
      ivfQuery: Option[StreamingQuery] = None) {
    def close(): Unit = {
      try query.stop()
      finally {
        try sessionQuery.foreach(_.stop())
        finally {
          try ivfQuery.foreach(_.stop())
          finally metricsServer.foreach(_.close())
        }
      }
    }
  }

  /** Wire the deployment: store, file-source document stream, metrics
    * endpoint, one composed streaming query. Does not block — `main`
    * awaits the query; the spec drives `processAllAvailable` + `close()`.
    *
    * The document schema comes from a batch read of `inputDir`, so at
    * least one (possibly empty-rowed) parquet file must exist there at
    * startup — the deployment seeds the drop dir with its schema file,
    * the same contract as any file-source pipeline.
    */
  def start(spark: SparkSession, cfg: Config): Wiring = {
    require(!cfg.faces.contains("release"),
      "the 'release' face is a one-shot batch job — use runRelease, not start")
    val store = TableStore(spark, cfg.dataDir)
    // fail-fast validation BEFORE any query or server starts — a type
    // mismatch discovered inside the sessions branch would leak the
    // already-running document query. An EXISTING sessions table written
    // under a different user-id type (e.g. the pre-round-15 build's long
    // cast) must refuse to start: appending the new type would mix
    // parquet schemas under one bucketed table, and reads with the
    // remembered sidecar would fail or corrupt on the new files.
    if (cfg.faces.contains("sessions")) {
      val evDir = cfg.eventsDir.getOrElse(throw new IllegalArgumentException(
        "the 'sessions' face requires eventsDir"))
      val evSchema = streamSchema(spark, evDir, cfg.eventsSchema, "eventsSchema")
      val existingSessions = store.readOr(StreamingSessions.SessionsTable, null)
      if (existingSessions != null) {
        val remembered = existingSessions.schema("user_id").dataType
        val incoming = evSchema(cfg.sessionUserCol).dataType
        require(remembered == incoming,
          s"sessions table at '${cfg.dataDir}' remembers user_id: $remembered " +
          s"but the event stream's '${cfg.sessionUserCol}' is $incoming — " +
          "appending would mix parquet schemas under one table; to migrate " +
          "the type, wipe the sessions table AND the sessions checkpoint " +
          s"('${cfg.checkpointDir}-sessions') together")
      }
    }
    val metrics = new PipelineMetrics
    val server =
      if (cfg.metricsPort < 0) None
      else Some(MetricsServer.start(() => metrics.render(), cfg.metricsPort))
    val schema = spark.read.parquet(cfg.inputDir).schema
    val docs = spark.readStream.schema(schema).parquet(cfg.inputDir)
    val query = docs.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(
        cfg.triggerSeconds.toLong * 1000))
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        processBatch(store, cfg, Some(metrics))(batch, bid)
      }
      .start()
    val sessionQuery =
      if (!cfg.faces.contains("sessions")) None
      else {
        val evDir = cfg.eventsDir.getOrElse(throw new IllegalArgumentException(
          "the 'sessions' face requires eventsDir"))
        val evSchema = streamSchema(spark, evDir, cfg.eventsSchema, "eventsSchema")
        // no cast on the user column: a long cast would silently null
        // string ids (UUIDs) and collapse those users into one null-keyed
        // session stream; session_window groups any key type (the
        // remembered-type mismatch was refused up front, before any
        // query started)
        val events = spark.readStream.schema(evSchema).parquet(evDir)
          .select(col(cfg.sessionUserCol).as("user_id"),
            col(cfg.sessionTsCol).as("ts"))
        val sessions = StreamingSessions.sessionStream(
          events, cfg.sessionGap, cfg.sessionWatermark)
        Some(sessions.writeStream
          // its own checkpoint: two queries can never share one
          .option("checkpointLocation", cfg.checkpointDir + "-sessions")
          .outputMode("append") // finalized sessions only, once each
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(
            cfg.triggerSeconds.toLong * 1000))
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            val b = batch.localCheckpoint(true) // landed AND counted
            StreamingSessions.processSessionBatch(store)(b, bid)
            metrics.sessions.addAndGet(b.count())
            ()
          }
          .start())
      }
    val ivfQuery =
      if (!cfg.faces.contains("ivfIndex")) None
      else {
        val embDir = cfg.embeddingsDir.getOrElse(throw new IllegalArgumentException(
          "the 'ivfIndex' face requires embeddingsDir"))
        val centPath = cfg.centroidsPath.getOrElse(throw new IllegalArgumentException(
          "the 'ivfIndex' face requires centroidsPath"))
        // centroids are the index's coarse quantizer: a small relation,
        // broadcast into every assignment (see assignToCentroids). With
        // the retrain face OFF they are FIXED (read once from the path);
        // with it ON they live in the store's ivf_centroids table (seeded
        // from the path at first start) so a recall-gated swap takes
        // effect on the very next batch.
        val seedCentroids = spark.read.parquet(centPath)
          .select(col(cfg.ivfIdCol).cast("long").as("vec_id"),
            col(cfg.ivfVecCol).as("embedding"))
        val retrainOn = cfg.faces.contains("retrain")
        if (retrainOn && !store.exists(IvfRetrain.CentroidsTable))
          store.replace(IvfRetrain.CentroidsTable, seedCentroids)
        val embSchema = streamSchema(spark, embDir, cfg.embeddingsSchema, "embeddingsSchema")
        val emb = spark.readStream.schema(embSchema).parquet(embDir)
          .select(col(cfg.ivfIdCol).cast("long").as("vec_id"),
            col(cfg.ivfVecCol).as("embedding"))
        Some(emb.writeStream
          .option("checkpointLocation", cfg.checkpointDir + "-ivf")
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(
            cfg.triggerSeconds.toLong * 1000))
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            val b = batch.localCheckpoint(true) // landed AND counted
            val centroids =
              if (retrainOn) store.readOr(IvfRetrain.CentroidsTable, seedCentroids)
              else seedCentroids
            StreamingSimilarity.processEmbeddingBatch(store, centroids)(b, bid)
            // the maintenance probe costs one centroid_id-column count
            // aggregation of the postings; `retrainEvery` amortizes it
            // for large indexes (every batch by default)
            if (retrainOn && bid % math.max(1, cfg.retrainEvery) == 0) {
              val rep = IvfRetrain.maybeRetrain(spark, store,
                cfg.retrainThreshold, cfg.retrainRounds,
                cfg.retrainSamplePermille, cfg.retrainProbes)
              if (rep.swapped) { metrics.retrains.incrementAndGet(); () }
            }
            metrics.vectors.addAndGet(b.count())
            metrics.recordStateFiles(store, StateTables("ivfIndex"))
          }
          .start())
      }
    Wiring(query, metrics, server, store, sessionQuery, ivfQuery)
  }

  /** The session `main` builds: `cfg.master`, shuffle partitions = cores. */
  def sessionSettings(cfg: Config): Map[String, String] =
    GraftSession.settings("graft-pipeline", cfg.master, Runtime.getRuntime.availableProcessors)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.PipelineRunner <config.yaml>")
    val cfg = parseConfig(Files.readString(Paths.get(args(0))))
    val spark = GraftSession(sessionSettings(cfg))
    if (cfg.faces == Seq("release")) {
      // one-shot batch job: run the composed DAG and exit
      val n = runRelease(spark, cfg)
      println(s"""{"release_rows":$n,"table":"${cfg.releaseTable}"}""")
      spark.stop()
      return
    }
    val wiring = start(spark, cfg)
    sys.addShutdownHook(wiring.close())
    // either query dying (doc faces or sessions) should surface, not hang
    spark.streams.awaitAnyTermination()
  }
}
