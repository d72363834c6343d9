package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import graft.chain.TableStore
import graft.operators.Similarity

/** Streaming face of the IVF ANN index (`Similarity.ivfTopK`'s build
  * side): embeddings ARRIVE continuously in a production system (every
  * newly-ingested document gets embedded), so the posting lists must grow
  * per micro-batch without ever rebuilding the index. Same foreachBatch +
  * persistent-table architecture as StreamingText.processChunkBatch — a
  * stateful-operator formulation can't express it because the index is a
  * TABLE consumed by separate query-time jobs, not a stream.
  *
  * Layout: `ivf_postings` partitioned BY CENTROID — the query side visits
  * `nProbe` lists per probe, and centroid-directory partitioning turns
  * that into an `isin` partition predicate Spark prunes before opening a
  * single file. At a billion vectors a probe touches nProbe/|centroids|
  * of the data, which is the entire point of IVF.
  *
  * Replay idempotency is append-only-missing: a replayed batch
  * re-assigns identically (deterministic centroids), probes ONLY its own
  * centroid partitions for already-landed vec_ids, and appends the
  * difference — a crash loop converges instead of growing the table.
  */
object StreamingSimilarity {

  final case class Vec(vec_id: Long, embedding: Array[Float])

  val postingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("centroid_id", LongType)))

  /** foreachBatch body: assign the batch to its nearest (broadcast)
    * centroids and land the new posting rows. The duplicate probe reads
    * only the partitions for centroids PRESENT IN THIS BATCH (bounded:
    * ≤ |centroids| longs collect to the driver), so per-batch cost is
    * O(batch's share of the index), not O(index).
    */
  def processEmbeddingBatch(store: TableStore, centroids: DataFrame)
                           (batch: DataFrame, bid: Long): Unit = {
    val assigned = Similarity.assignToCentroids(batch, centroids, "vec_id", "embedding")
      .select(col("vec_id"), col("embedding"), col("centroid_id"))
      .localCheckpoint(true) // consumed by the cid probe AND the append
    val cids = assigned.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    if (cids.nonEmpty) {
      val existing = store.read("ivf_postings", postingsSchema)
        .filter(col("centroid_id").isin(cids: _*)) // partition-pruned scan
        .select(col("vec_id"))
      val fresh = assigned.join(existing, Seq("vec_id"), "left_anti")
      store.appendPartitioned("ivf_postings", fresh, "centroid_id")
      // bounded file counts per posting list: threshold-compact exactly
      // the lists this batch touched (rows unchanged — see TableStore)
      store.compactPartitions("ivf_postings", "centroid_id", Some(cids))
    }
  }

  /** Query face over the maintained index: rank centroids per probe,
    * prune the postings scan to the probed lists (driver-bounded
    * |probes|·nProbe centroid ids → `isin` partition predicate), exact
    * cosine inside the visited lists — `Similarity.ivfTopK`'s semantics
    * over the table the stream maintains. Both ranking stages are the
    * batch tier's bounded per-probe top-k aggregate
    * (`Similarity.topKPerProbe`), NOT `row_number` windows: the coarse
    * stage never moves its |probes|·|centroids| scored relation through
    * an exchange, and the in-list stage's shuffle carries ≤ |probes|·k
    * pre-combined rows no matter how large the posting lists grow.
    */
  def ivfTopKFromPostings(store: TableStore, probes: DataFrame,
                          centroids: DataFrame,
                          idCol: String, vecCol: String,
                          k: Int, nProbe: Int): DataFrame = {
    val probeLists = Similarity
      .probeNearestLists(probes, centroids, idCol, vecCol, nProbe)
      .localCheckpoint(true) // consumed by the cid collect AND the join
    val probedCids = probeLists.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val posted = store.read("ivf_postings", postingsSchema)
      .filter(col("centroid_id").isin(probedCids: _*)) // partition-pruned
      .withColumnRenamed("vec_id", idCol)
      .withColumnRenamed("embedding", vecCol)
    val scored = posted.join(broadcast(probeLists), Seq("centroid_id"))
      .filter(col(idCol) =!= col("probe_id"))
      .withColumn("sim", round(Similarity.cosine(col("__pvec"), col(vecCol)), 6))
      .select(col("probe_id"), col(idCol), col("sim"))
    Similarity.topKPerProbe(scored, Similarity.descKey(col("sim"), col(idCol)), k, "rank")
      .select(col("probe_id"), col("rank"), col(idCol), col("sim"))
  }
}
