package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.chain.TableStore

/** Long-horizon soak of the streaming state tables — the duration
  * evidence the 50-batch spec contracts can't give: drive the composed
  * pipeline faces (chunk dedup, LSH near-dup index, HLL sketch, bottom-k
  * quantiles — exactly [[PipelineRunner.processBatch]]) for hundreds of
  * micro-batches and chart, at fixed checkpoints,
  *   - the state tables' DATA-FILE counts (threshold compaction must hold
  *     them flat — an append-only face would grow one file set per batch
  *     and every later probe would pay per-file listing/footer costs),
  *   - their ROW counts (the algebra-idempotent states — hll_regs ≤
  *     groups×m, bk_sample ≤ groups×k — must plateau; chunk_hashes grows
  *     only with DISTINCT chunks),
  *   - Spark jobs/batch and sec/batch (a per-batch cost that trends up
  *     with batch index means some stage scans O(state), not O(batch)).
  *
  * Emits a `"soak_*"` JSON fragment for bench_out.json: sample arrays
  * over the run, flat-by-inspection. Knobs: SPARK_GRAFT_SOAK_BATCHES
  * (default 500), SPARK_GRAFT_SOAK_DOCS (per batch, default 24),
  * SPARK_GRAFT_SOAK=0 skips.
  */
object SoakBench {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-soak")
    println("{" + run(spark) + "}")
    spark.stop()
  }

  /** Batch `b`: `docsPer` docs, ~25% of them exact re-texts of earlier
    * docs (steady dup mass for the dedup faces), two sources, two langs —
    * the state tables see both new keys and replays every batch.
    */
  private def batchDf(spark: SparkSession, b: Long, docsPer: Int) = {
    import spark.implicits._
    (0 until docsPer).map { j =>
      val i = b * docsPer + j
      val text =
        if (j % 4 == 0) s"recurring boilerplate paragraph number ${j / 4} shared across batches"
        else s"fresh document $i body with distinct words ${i * 31} ${i * 17} ${i * 13}"
      (i, text, if (i % 3 == 0) "en" else "de", s"src${i % 2}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def run(spark: SparkSession): String = {
    val batches = sys.env.get("SPARK_GRAFT_SOAK_BATCHES").map(_.toInt).getOrElse(500)
    val docsPer = sys.env.get("SPARK_GRAFT_SOAK_DOCS").map(_.toInt).getOrElse(24)
    val store = TableStore(spark,
      Files.createTempDirectory("graft-soak").toString, bucketSize = 64L)
    // compactFiles is LOW here on purpose: the soak's job is to show the
    // file-count curves SATURATING inside the run — at the production
    // default (64) the chunk face's per-partition touch rate (~1/15
    // batches at this doc mix) would not cross the threshold within 500
    // batches and the curve would read as unbounded growth when it is
    // actually just a far-off ceiling (256 partitions × threshold)
    val compact = sys.env.get("SPARK_GRAFT_SOAK_COMPACT").map(_.toInt).getOrElse(16)
    val cfg = PipelineRunner.Config(
      inputDir = "", dataDir = store.root, checkpointDir = "",
      quantileK = 32, hllM = 256, compactFiles = compact)
    val tables = Seq("chunk_hashes", "lsh_postings", "lsh_sigs",
      "hll_regs", "bk_sample")
    val samplePoints = math.max(1, batches / 10)
    val samples = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Map[String, (Long, Long)], Double, Double)]
    Profile.measure(spark) { counter =>
      var windowJobs0 = 0L
      var windowT0 = System.nanoTime()
      (0 until batches).foreach { b =>
        PipelineRunner.processBatch(store, cfg)(batchDf(spark, b.toLong, docsPer), b.toLong)
        if ((b + 1) % samplePoints == 0) {
          val stats = tables.map { t =>
            t -> ((store.fileCounts(t).values.sum,
              if (store.exists(t)) store.readOr(t, null).count() else 0L))
          }.toMap
          val jobs = counter.jobs.get
          val now  = System.nanoTime()
          val jobsPerBatch = (jobs - windowJobs0).toDouble / samplePoints
          val secPerBatch  = (now - windowT0) / 1e9 / samplePoints
          windowJobs0 = jobs; windowT0 = now
          samples += ((b + 1, stats, jobsPerBatch, secPerBatch))
          Console.err.println(f"[soak] batch ${b + 1}%4d  jobs/batch $jobsPerBatch%.1f  " +
            f"sec/batch $secPerBatch%.2f  files ${stats.map { case (t, v) => s"$t=${v._1}" }.mkString(" ")}")
        }
      }
    }
    def arr(f: ((Int, Map[String, (Long, Long)], Double, Double)) => String) =
      samples.map(f).mkString("[", ",", "]")
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    s""""soak_source":"live run","soak_batches":$batches,"soak_docs_per_batch":$docsPer,""" +
      s""""soak_sample_batches":${arr(_._1.toString)},""" +
      tables.map { t =>
        s""""soak_files_$t":${arr(_._2(t)._1.toString)},""" +
          s""""soak_rows_$t":${arr(_._2(t)._2.toString)}"""
      }.mkString(",") + "," +
      s""""soak_jobs_per_batch":${arr(s => f2(s._3))},""" +
      s""""soak_sec_per_batch":${arr(s => f2(s._4))}"""
  }
}
