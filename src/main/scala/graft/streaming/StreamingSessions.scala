package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}
import graft.chain.TableStore

/** Streaming face of `operators.Relational.sessionize` (the w4 batch
  * query): the same per-user activity sessions, produced incrementally as
  * events arrive, via Structured Streaming's native `session_window`
  * aggregation — Spark keeps per-key open-session state, MERGES a session
  * that spans micro-batches (an event landing within `gap` of an open
  * window extends it, even if the window was opened three batches ago),
  * and emits a session only once the watermark passes its close. State
  * volume is O(open sessions), bounded by the watermark — the engine drops
  * a session's state the moment it can no longer change, which is what
  * lets this run forever against a 100 TB/day event feed.
  *
  * Boundary convention: `session_window`'s MERGE test is inclusive — a
  * window starting exactly at an open window's end merges into it, so an
  * event at EXACTLY last + gap CONTINUES the session (measured
  * empirically in SessionParitySpec, within-batch and across the
  * state-merge path; this scaladoc claimed the opposite in round 14).
  * That is the same `delta > gap` break the batch face
  * (`Relational.sessionize`) uses, so the two faces agree row-for-row
  * even on exact-boundary events — pinned both ways by SessionParitySpec,
  * not just prose.
  */
object StreamingSessions {

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_id: Long)

  /** Session-level rollup per user: (user_id, session_start, session_end,
    * n_events, last_ts). `events` must be a streaming DataFrame with
    * `user_id` and timestamp column `ts`; results emit in Append mode once
    * the watermark (event-time max − `watermarkDelay`) passes a session's
    * close, so late events inside the delay still merge into their session.
    */
  def sessionStream(events: DataFrame, gap: String = "24 hours",
                    watermarkDelay: String = "0 seconds"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("__w"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      .select(col("user_id"),
        col("__w.start").as("session_start"),
        col("__w.end").as("session_end"),
        col("n_events"), col("last_ts"))

  val SessionsTable = "sessions"

  /** The sessions-table shape for LONG user ids (the fixture default).
    * The store itself takes the batch's actual schema — a string-keyed
    * deployment (UUID users) lands user_id as STRING unchanged.
    */
  val sessionsSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType),
    StructField("user_id", LongType),
    StructField("session_start", TimestampType),
    StructField("session_end", TimestampType),
    StructField("n_events", LongType),
    StructField("last_ts", TimestampType)))

  /** foreachBatch sink for [[sessionStream]]'s Append-mode output: land
    * the batch's FINALIZED sessions in the store, tagged with the batch
    * id. Append-mode emission is deterministic given the checkpointed
    * session state, so a crash-replay of batch `bid` re-produces the same
    * rows — the delete-then-append bracket makes the replay converge
    * instead of duplicating (the snapshot-table discipline of
    * [[StreamingSketch.processSketchBatch]]). Each batch's work is
    * O(batch's finalized sessions); the store never rewrites old batches.
    */
  def processSessionBatch(store: TableStore)(batch: DataFrame, bid: Long): Unit = {
    val tagged = batch
      .select(lit(bid).as("batch_id"), col("user_id"),
        col("session_start"), col("session_end"),
        col("n_events"), col("last_ts"))
    store.deleteRange(SessionsTable, "batch_id", bid, bid)
    store.appendRange(SessionsTable, tagged, "batch_id", bid, bid)
  }
}
