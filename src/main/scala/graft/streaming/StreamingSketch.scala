package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.chain.TableStore
import graft.operators.Sketches

/** Streaming face of the HyperLogLog distinct sketch (the a14 family):
  * a feed arrives over micro-batches and the pipeline needs a running
  * "distinct shingles/urls/users per group" statistic without ever
  * re-scanning the corpus — the cardinality telemetry dedup sizing and
  * growth dashboards read. Same foreachBatch + persistent-table
  * architecture as [[StreamingDedup]], but the state is ALGEBRAICALLY
  * idempotent, which makes this the simplest possible instance of the
  * pattern:
  *
  *   - the whole state is the register relation (group, b, r ≤ 49) —
  *     at most groups×m rows no matter how many trillions of values
  *     have streamed through; each batch max-merges its own registers
  *     into it and [[TableStore.replace]] swaps the table atomically;
  *   - replay needs NO batch_id gate on the state: max-merge is
  *     idempotent, so a crashed batch replayed (even several times)
  *     converges to the identical register table — where
  *     [[StreamingDedup]] must tag rows and anti-join to stay
  *     convergent, here the ALGEBRA is the idempotency proof;
  *   - the per-batch estimate snapshot (`hll_cardinality`) is the only
  *     batch-tagged table (delete-then-append on batch_id, the verdict
  *     discipline), so a replayed batch rewrites its row instead of
  *     duplicating it.
  *
  * The estimates after batch k equal the ONE-SHOT [[Sketches.hllDistinct]]
  * over the union of batches 1..k exactly (register-for-register) —
  * the spec asserts this, it is the operator's contract.
  */
object StreamingSketch {

  val RegistersTable   = "hll_regs"
  val CardinalityTable = "hll_cardinality"

  def registersSchema: StructType = StructType(Seq(
    StructField("g", StringType), StructField("__b", LongType),
    StructField("__r", IntegerType)))

  /** foreachBatch body: merge the batch's registers into the persistent
    * sketch and snapshot the per-group estimates for this batch_id.
    */
  def processSketchBatch(store: TableStore, groupCol: String,
                         valueCol: String, m: Int = 1024)
                        (batch: DataFrame, bid: Long): Unit = {
    val spark = batch.sparkSession
    val batchRegs = Sketches.hllRegisters(
        batch.select(col(groupCol).cast("string").as("g"), col(valueCol)),
        Seq("g"), col(valueCol), m)
      .select(col("g"), col("__b"), col("__r").cast("int").as("__r"))
    val old = store.readOr(RegistersTable,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        registersSchema))
    // max-merge: idempotent, so replaying any batch converges; the state
    // never exceeds groups×m rows
    val merged = old.unionByName(batchRegs)
      .groupBy("g", "__b").agg(max(col("__r")).as("__r"))
    store.replace(RegistersTable, merged)

    val snapshot = Sketches.hllEstimate(
        store.read(RegistersTable, registersSchema), Seq("g"), m)
      .withColumn("batch_id", lit(bid))
      .select("batch_id", "g", "m", "n_zero", "harmonic", "hll_est")
    store.deleteRange(CardinalityTable, "batch_id", bid, bid)
    store.appendRange(CardinalityTable, snapshot, "batch_id", bid, bid)
  }
}
