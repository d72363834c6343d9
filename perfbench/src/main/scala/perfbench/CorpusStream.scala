package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.PipelineRunner
import graft.chain.TableStore
import graft.operators.Sketches
import graft.streaming.{StreamingDedup, StreamingQuantiles, StreamingSketch}

/** `corpus-stream`: `PipelineRunner` with the four document faces and
  * `triggerSeconds: 0`. A closed-loop producer drops one seeded file of
  * documents after the previous drop's batch commits; exact and near
  * duplicates of earlier documents are planted in every file. After the
  * drops, a closed-loop reader makes [[Reads]] verdict lookups. The
  * pipeline's settings are the defaults, which are those of the shipped
  * `configs/pipeline.yaml`, bar the faces and the trigger.
  */
object CorpusStream {
  val SeedDocs = 512
  val DocsPerFile = 128
  val MaxFiles = 3
  val BatchTimeoutMs = 180000L
  val Reads = 21

  /** One generated document; `dupOf` is the planted original, if any. */
  final case class Doc(id: Long, text: String, lang: String, source: String,
                       exact: Boolean, dupOf: Option[Long])

  /** Seeded documents shaped like the repository's `documents` test
    * corpus (5000 rows at scale 0.1): 10 to 100 words, uniformly; words
    * drawn uniformly from its 30-word vocabulary; its language mix; 20
    * equally likely sources. The corpus plants near copies as an
    * original with the word `dup` appended (5 % of its rows), and so does
    * this generator, at the same rate: every twentieth document, one on.
    * Exact copies are 0.16 % of the corpus, too few for a file of
    * [[DocsPerFile]] to hold one, so every twentieth document is an exact
    * copy instead. Copies take an earlier original and a language and
    * source of their own, as in the corpus. Every file has the same shape;
    * only its values vary with the seed.
    */
  final class DocGen(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    val docs = mutable.ArrayBuffer.empty[Doc]
    private val originals = mutable.ArrayBuffer.empty[Doc]
    def next(n: Int): Seq[Doc] = (0 until n).map { _ =>
      val id = docs.size.toLong
      val slot = id % 20
      val (lang, source) = (pickLang(), s"src${rnd.nextInt(Sources)}")
      val d =
        if (slot == 0 && originals.nonEmpty) {
          val o = originals(rnd.nextInt(originals.size))
          Doc(id, o.text, lang, source, exact = true, Some(o.id))
        } else if (slot == 1 && originals.nonEmpty) {
          val o = originals(rnd.nextInt(originals.size))
          Doc(id, o.text + " dup", lang, source, exact = false, Some(o.id))
        } else {
          val o = Doc(id, Iterator.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" "),
            lang, source, exact = false, None)
          originals += o
          o
        }
      docs += d
      d
    }
    private def pickLang(): String = {
      val u = rnd.nextDouble()
      Langs.find(_._2 > u).getOrElse(Langs.last)._1
    }
  }

  /** The test corpus's vocabulary, bar the planted `dup`. */
  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  /** The test corpus's languages with their cumulative shares. */
  val Langs: Seq[(String, Double)] =
    Seq("en" -> 0.4118, "zh" -> 0.5624, "es" -> 0.7112, "fr" -> 0.8596, "de" -> 1.0)
  val Sources = 20

  private def writeFiles(spark: SparkSession, files: Seq[Seq[Doc]], staging: Path): Seq[Path] = {
    import spark.implicits._
    val rows = files.zipWithIndex.flatMap { case (ds, f) =>
      ds.map(d => (f, d.id, d.text, d.lang, d.source, d.text.length.toLong))
    }
    rows.toDF("file", "doc_id", "text", "lang", "source", "n_chars")
      .repartition(files.size, col("file"))
      .write.partitionBy("file").parquet(staging.toString)
    files.indices.map { f =>
      Files.list(staging.resolve(s"file=$f")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
    }
  }

  private def config(dir: Path): PipelineRunner.Config = PipelineRunner.Config(
    inputDir = dir.resolve("incoming").toString,
    dataDir = dir.resolve("data").toString,
    checkpointDir = dir.resolve("checkpoint").toString,
    faces = PipelineRunner.BatchFaceNames,
    metricsPort = 0,
    triggerSeconds = 0)

  private def drop(file: Path, dir: Path, name: String): Unit = {
    val in = Files.createDirectories(dir.resolve("incoming"))
    val tmp = dir.resolve(s".$name")
    Files.copy(file, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def rows(store: TableStore, t: String): Long =
    if (store.exists(t)) store.readOr(t, null).count() else 0L

  def run(spark: SparkSession, args: Args, progress: ProgressLog, tracer: Option[Tracer]): Outcome = {
    val gen = new DocGen(args.seed)
    val root = Files.createDirectories(args.workDir.resolve("corpus-stream"))
    val seedDocs = gen.next(SeedDocs)
    val dropDocs = (0 until MaxFiles).map(_ => gen.next(DocsPerFile))
    val paths = writeFiles(spark, seedDocs +: dropDocs, root.resolve("staging"))

    // set-up: the drop dir with its seed file and PipelineRunner.start;
    // the first batch, which seeds the state, is the warm-up
    val dir = root.resolve("world")
    drop(paths.head, dir, "seed.parquet")
    val cfg = config(dir)
    val wiring = PipelineRunner.start(spark, cfg)
    val q = wiring.query
    val qid = q.id.toString
    def committedBatches(ps: Vector[BatchProgress]) =
      ps.filter(p => p.queryId == qid && p.inputRows > 0)
    var dropped = 0
    /** Drop the next file and wait for its batch: (drop ms, its batch). */
    def dropNext(): (Long, BatchProgress) = {
      val want = committedBatches(progress.all).size
      val dropMs = System.currentTimeMillis()
      drop(paths(dropped + 1), dir, f"drop-$dropped%04d.parquet")
      require(progress.await(BatchTimeoutMs)(ps => committedBatches(ps).size > want),
        s"batch for drop $dropped never committed")
      val b = committedBatches(progress.all)(want)
      require(b.inputRows == DocsPerFile, s"drop $dropped landed as ${b.inputRows} rows")
      dropped += 1
      (dropMs, b)
    }
    require(progress.await(BatchTimeoutMs)(ps => committedBatches(ps).exists(_.inputRows == SeedDocs)),
      "the seed batch never committed")
    val setupEndMs = System.currentTimeMillis()
    val store = TableStore(spark, cfg.dataDir)

    // measured window: closed-loop drops, one at a time
    val store0 = Layer.files(dir.resolve("data"))
    System.gc() // no warm-up garbage carried into the window
    val t0 = System.currentTimeMillis()
    val lags = mutable.ArrayBuffer.empty[Double]
    val late = mutable.ArrayBuffer.empty[Double]
    var lastCommit = t0
    while (System.currentTimeMillis() < t0 + args.seconds * 1000L && dropped < MaxFiles) {
      late += (System.currentTimeMillis() - lastCommit) / 1e3
      val (dropMs, b) = dropNext()
      lags += (b.endMs - dropMs) / 1e3
      lastCommit = b.endMs
    }
    val committedDocs = SeedDocs + dropped * DocsPerFile
    val tEnd = lastCommit
    val ps = progress.all
    wiring.close()

    val session = spark.newSession()
    val reader = new ReadLoop(session, 1, args.seed)(
      lookup(session, cfg.dataDir, gen.docs.take(committedDocs).toIndexedSeq))
    val r0 = System.currentTimeMillis()
    reader.run(warm = 1, n = Reads)
    val r1 = System.currentTimeMillis()

    // output checks: planted duplicates flagged; the sketch states are the
    // ones a single pass over every committed document gives, so they stay
    // within their plateaus (groups × m registers, groups × k samples)
    val committed = gen.docs.take(committedDocs)
    val verdict = store.readOr(StreamingDedup.VerdictTable, null)
      .select("doc_id", "is_new").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chunk = store.readOr("chunk_dedup", null)
      .select("doc_id", "dup_chunks", "n_chunks").collect()
      .map(r => r.getLong(0) -> (r.getLong(1) == r.getLong(2))).toMap
    val planted = committed.filter(_.dupOf.nonEmpty)
    val missedNear = planted.count(d => !verdict.get(d.id).contains(0))
    val missedExact = planted.filter(_.exact).count(d => !chunk.getOrElse(d.id, false))
    val falseDup = committed.filter(_.dupOf.isEmpty).count(d => !verdict.get(d.id).contains(1))
    val regs = {
      import spark.implicits._
      val all = committed.toSeq.map(d => (d.source, d.id)).toDF("g", "doc_id")
      Sketches.hllRegisters(all, Seq("g"), col("doc_id"), cfg.hllM)
        .select(col("g"), col("__b"), col("__r").cast("int"))
    }
    val regsGot = store.readOr(StreamingSketch.RegistersTable, null).select("g", "__b", "__r")
    val regsDiff = regs.exceptAll(regsGot).count() + regsGot.exceptAll(regs).count()
    val hll = regsGot.count()
    val bk = rows(store, StreamingQuantiles.SampleTable)
    val bkWant = committed.groupBy(_.lang).values.map(ds => math.min(ds.size, cfg.quantileK)).sum
    val checks = Seq(
      (s"verdicts for all ${committed.size} committed docs (got ${verdict.size})", verdict.size == committed.size),
      (s"planted duplicates flagged by lshDedup (${planted.size}, missed $missedNear)", missedNear == 0),
      (s"planted exact duplicates fully seen by chunkDedup (missed $missedExact)", missedExact == 0),
      (s"originals kept as new (wrongly flagged $falseDup)", falseDup == 0),
      (s"hll_regs equal to one pass over the committed docs ($hll rows, $regsDiff differ)", regsDiff == 0),
      (s"bk_sample rows = sum over languages of min(docs, ${cfg.quantileK}) = $bkWant (got $bk)", bk == bkWant))

    val layer = tracer.map { tr =>
      val run = tr.newSpanId()
      tr.record(Span(run, 0L, "corpus-stream.window", t0, tEnd))
      committedBatches(ps).filter(_.startMs >= t0).foreach { b =>
        tr.record(Span(tr.newSpanId(), run, s"batch.${b.batchId}", b.startMs, b.endMs))
      }
      reader.spans.foreach { case (s0, s1) => tr.record(Span(tr.newSpanId(), run, "read", s0, s1)) }
      val win = Window(t0, tEnd, lags.size.toDouble, reader.count, r0, r1,
        ps.filter(p => p.queryId == qid && p.startMs >= t0 && p.endMs <= tEnd))
      val (files1, bytes1) = Layer.files(dir.resolve("data"))
      val state = Seq("chunk_hashes", "lsh_postings", "lsh_sigs", "hll_regs", "bk_sample")
      Layer.spark(tr, win) ++ Map(
        "chain.TableStore.data_files" -> files1.toDouble,
        "chain.TableStore.bytes_per_unit" -> (bytes1 - store0._2).toDouble / math.max(lags.size, 1),
        "corpus.state_files" -> state.map(t => Layer.files(dir.resolve("data").resolve(t))._1).sum.toDouble,
        "corpus.state_rows" -> state.map(rows(store, _)).sum.toDouble,
        "bench.generator_late_s_max" -> late.max)
    }.map(Layer.complete(_)).getOrElse(Map.empty)

    val docs = lags.size.toLong * DocsPerFile
    Outcome(
      setupEndMs = setupEndMs,
      lagsS = lags.toSeq,
      readsMs = reader.latenciesMs,
      attempted = lags.size + reader.attempted + checks.size,
      failed = reader.failed + checks.count(!_._2),
      checks = checks,
      readFailures = reader.failures,
      layer = layer,
      report = Seq(
        "batches" -> lags.size.toString, "docs" -> docs.toString,
        "corpus_docs_per_s" -> Json.num(docs / math.max((tEnd - t0) / 1e3, 1e-3)),
        "hll_regs_rows" -> hll.toString, "bk_sample_rows" -> bk.toString))
  }

  /** The verdicts of a random committed document, checked against what
    * the generator planted: its `near_dups` row and its `chunk_dedup` row.
    */
  private def lookup(session: SparkSession, data: String, docs: IndexedSeq[Doc])
                    (kind: Int, rnd: scala.util.Random): Option[String] = {
    val d = docs(rnd.nextInt(docs.size))
    val store = TableStore(session, data)
    val v = store.readOr(StreamingDedup.VerdictTable, null)
      .filter(col("doc_id") === d.id).select("is_new").collect()
    val c = store.readOr("chunk_dedup", null)
      .filter(col("doc_id") === d.id).select("dup_chunks", "n_chunks").collect()
    val want = if (d.dupOf.isEmpty) 1 else 0
    if (v.length != 1 || v(0).getInt(0) != want)
      Some(s"verdict of doc ${d.id}: ${v.map(_.getInt(0)).mkString(",")}, want $want")
    else if (c.length != 1 || (d.exact && c(0).getLong(0) != c(0).getLong(1)))
      Some(s"chunk_dedup of doc ${d.id}: ${c.length} rows")
    else None
  }
}
