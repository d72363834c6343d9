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
  *   - the state tables' DATA-FILE counts (compaction must hold them
  *     flat — an append-only face would grow one file set per batch and
  *     every later probe would pay per-file listing/footer costs),
  *   - the live DIR counts of the per-batch range tables, the dedup state
  *     tables `chunk_hashes` and `lsh_postings` among them (tiered
  *     compaction must hold them near 64 + 8 per level), and the cost of
  *     that compaction: seconds on the batches that merged a run against
  *     those that did not, and the bytes merged,
  *   - their ROW counts (the algebra-idempotent states — hll_regs ≤
  *     groups×m, bk_sample ≤ groups×k — must plateau; chunk_hashes grows
  *     only with DISTINCT chunks),
  *   - Spark jobs/batch and sec/batch (a per-batch cost that trends up
  *     with batch index means some stage scans O(state), not O(batch)).
  *
  * Run it directly (`sbt "runMain graft.SoakBench"`); it prints one JSON
  * object of `"soak_*"` members on stdout: sample arrays over the run,
  * flat-by-inspection. Knobs: SPARK_GRAFT_SOAK_BATCHES (default 500),
  * SPARK_GRAFT_SOAK_DOCS (per batch, default 24).
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

  /** Bytes in the dirs that compaction wrote between two
    * [[TableStore.rangeDirs]] snapshots of one table whose appends each
    * cover one range value: the new dirs spanning more than one.
    */
  private[graft] def mergedBytes(before: Seq[(Long, Long, Long)],
                                 after: Seq[(Long, Long, Long)]): Long =
    after.filterNot(before.toSet).collect { case (lo, hi, b) if lo < hi => b }.sum

  /** `"<prefix>_merge_batches"` and friends from (seconds, merged bytes)
    * per batch: how many batches merged, the median and max seconds of
    * merging and of plain batches, and the bytes merged.
    */
  private[graft] def mergeCost(prefix: String, perBatch: Seq[(Double, Long)]): String = {
    val (merging, plain) = perBatch.partition(_._2 > 0)
    def f2(xs: Seq[Double], pick: Seq[Double] => Double) =
      if (xs.isEmpty) "null" else "%.2f".formatLocal(java.util.Locale.ROOT, pick(xs.sorted))
    def secs(kind: String, xs: Seq[Double]) =
      s""""${prefix}_${kind}_sec_p50":${f2(xs, s => s(s.size / 2))},""" +
        s""""${prefix}_${kind}_sec_max":${f2(xs, _.last)},"""
    s""""${prefix}_merge_batches":${merging.size},""" + secs("merge", merging.map(_._1)) +
      secs("plain", plain.map(_._1)) + s""""${prefix}_merged_bytes":${perBatch.map(_._2).sum}"""
  }

  def run(spark: SparkSession): String = {
    val batches = sys.env.get("SPARK_GRAFT_SOAK_BATCHES").map(_.toInt).getOrElse(500)
    val docsPer = sys.env.get("SPARK_GRAFT_SOAK_DOCS").map(_.toInt).getOrElse(24)
    val store = TableStore(spark, Files.createTempDirectory("graft-soak").toString)
    val cfg = PipelineRunner.Config(
      inputDir = "", dataDir = store.root, checkpointDir = "",
      quantileK = 32, hllM = 256)
    val tables = Seq("chunk_hashes", "lsh_postings", "hll_regs", "bk_sample")
    val rangeTables = Seq("chunk_dedup", "near_dups", "hll_cardinality", "bk_quantiles",
      "chunk_hashes", "lsh_postings")
    val samplePoints = math.max(1, batches / 10)
    type Sample = (Int, Map[String, (Long, Long)], Double, Double, Map[String, Int])
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    Profile.measure(spark) { counter =>
      var windowJobs0 = 0L
      var windowT0 = System.nanoTime()
      (0 until batches).foreach { b =>
        val before = rangeTables.map(store.rangeDirs)
        val t0 = System.nanoTime()
        PipelineRunner.processBatch(store, cfg)(batchDf(spark, b.toLong, docsPer), b.toLong)
        perBatch += (((System.nanoTime() - t0) / 1e9,
          rangeTables.zip(before).map { case (t, d) => mergedBytes(d, store.rangeDirs(t)) }.sum))
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
          samples += ((b + 1, stats, jobsPerBatch, secPerBatch,
            rangeTables.map(t => t -> store.rangeDirs(t).size).toMap))
          Console.err.println(f"[soak] batch ${b + 1}%4d  jobs/batch $jobsPerBatch%.1f  " +
            f"sec/batch $secPerBatch%.2f  files ${stats.map { case (t, v) => s"$t=${v._1}" }.mkString(" ")}")
        }
      }
    }
    def arr(f: Sample => String) =
      samples.map(f).mkString("[", ",", "]")
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    s""""soak_source":"live run","soak_batches":$batches,"soak_docs_per_batch":$docsPer,""" +
      s""""soak_sample_batches":${arr(_._1.toString)},""" +
      tables.map { t =>
        s""""soak_files_$t":${arr(_._2(t)._1.toString)},""" +
          s""""soak_rows_$t":${arr(_._2(t)._2.toString)}"""
      }.mkString(",") + "," +
      rangeTables.map(t => s""""soak_dirs_$t":${arr(_._5(t).toString)},""").mkString +
      mergeCost("soak", perBatch.toSeq) + "," +
      s""""soak_jobs_per_batch":${arr(s => f2(s._3))},""" +
      s""""soak_sec_per_batch":${arr(s => f2(s._4))}"""
  }
}
