package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.chain.TableStore

/** Streaming face of the bottom-k quantile sketch (the a17 family): a
  * feed arrives over micro-batches and the pipeline needs running
  * per-group value quantiles — the length/quality distribution-drift
  * telemetry — without re-scanning history. Same foreachBatch +
  * persistent-table architecture as [[StreamingSketch]], and the same
  * idempotency-by-algebra story:
  *
  *   - the whole state is the sample relation (g, h, v): each group's k
  *     rows with the SMALLEST md5-of-id keys seen so far — at most
  *     groups×k rows no matter how many trillions of rows streamed
  *     through. Each batch unions its own bottom-k, dedups on (g, h, v)
  *     (set semantics), and keeps the k smallest again: min-k over a SET
  *     is a semilattice — associative, commutative, IDEMPOTENT — so a
  *     crashed batch replayed any number of times converges to the
  *     identical sample with no batch_id gate on the state;
  *   - because the sample key is a fixed uniform permutation of row ids
  *     (md5), the running sample after batch n IS the bottom-k sample of
  *     the union of batches 1..n — the snapshot quantiles equal the
  *     one-shot [[graft.operators.Sketches.bottomKQuantiles]] over all
  *     data so far, exactly (the spec pins this contract);
  *   - per-batch row counts are NOT idempotent, so the running total
  *     lives in the batch_id-tagged snapshot table (delete-then-append,
  *     the replay discipline): a replayed batch rewrites its own row and
  *     the SUM over snapshots stays convergent.
  */
object StreamingQuantiles {

  val SampleTable    = "bk_sample"
  val QuantilesTable = "bk_quantiles"

  def sampleSchema: StructType = StructType(Seq(
    StructField("g", StringType), StructField("h", StringType),
    StructField("v", LongType)))

  /** foreachBatch body: fold the batch into the persistent bottom-k
    * sample and snapshot this batch's quantile estimates + row count.
    */
  def processQuantileBatch(store: TableStore, groupCol: String,
                           valueCol: String, idCol: String, k: Int,
                           percents: Seq[Int] = Seq(50, 90, 99))
                          (batch: DataFrame, bid: Long): Unit = {
    val spark = batch.sparkSession
    val item = struct(col("h"), col("v"))
    // the batch's OWN bottom-k first: whatever the batch size, at most
    // groups×k candidate rows ever meet the persisted state
    val batchRows = batch
      .select(col(groupCol).cast("string").as("g"),
        md5(col(idCol).cast("string")).as("h"),
        col(valueCol).cast("long").as("v"))
    val batchTop = batchRows
      .groupBy("g")
      .agg(GraftSqlBridge.collectTopK(item, k, reverse = true).as("__samp"))
      .select(col("g"), explode(col("__samp")).as("__e"))
      .select(col("g"), col("__e.h").as("h"), col("__e.v").as("v"))
    val old = store.readOr(SampleTable,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        sampleSchema))
    // min-k over the SET union: dropDuplicates gives set semantics (a
    // replayed row must not occupy two sample slots), the second top-k
    // keeps the k smallest — idempotent, so the state needs no batch tags
    val merged = old.unionByName(batchTop)
      .dropDuplicates("g", "h", "v")
      .groupBy("g")
      .agg(GraftSqlBridge.collectTopK(item, k, reverse = true).as("__samp"))
      .select(col("g"), explode(col("__samp")).as("__e"))
      .select(col("g"), col("__e.h").as("h"), col("__e.v").as("v"))
    store.replace(SampleTable, merged)

    // snapshot: quantiles of the RUNNING sample + this batch's row count
    // (counts are summable across snapshot rows; replay rewrites its row)
    val sample = store.read(SampleTable, sampleSchema)
    val vals   = array_sort(transform(col("__samp"), s => s.getField("v")))
    val n      = size(col("__vals"))
    def q(p: Int) =
      element_at(col("__vals"),
        (floor(((n - 1) * lit(p)).cast("double") / 100.0) + 1).cast("int")).as(s"p$p")
    val batchCounts = batchRows.groupBy("g").agg(count(lit(1)).as("batch_rows"))
    val snapshot = sample
      .groupBy("g")
      .agg(GraftSqlBridge.collectTopK(item, k, reverse = true).as("__samp"))
      .withColumn("__vals", vals)
      .select(Seq(col("g"), n.as("n_sample")) ++ percents.map(q): _*)
      .join(batchCounts, Seq("g"), "left")
      .withColumn("batch_rows", coalesce(col("batch_rows"), lit(0L)))
      .withColumn("batch_id", lit(bid))
    store.deleteRange(QuantilesTable, "batch_id", bid, bid)
    store.appendRange(QuantilesTable, snapshot, "batch_id", bid, bid)
  }
}
