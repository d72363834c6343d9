package graft.streaming

import java.nio.file.Files
import scala.util.Random
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.chain._
import graft.chain.Fixtures._
import graft.chain.Schemas._

/** SURVEY §5c — quiet-span / per-block equivalence as a PROPERTY.
  *
  * The fixed-script case in BalanceIngestSpec ("vectorized span is
  * row-identical…") pins one event placement; this spec generates
  * randomized scripts — subscription admissions and token seeds at random
  * blocks, including the edge placements the span-splitting logic
  * ([[BalanceIngest]].firstEventBlock) must get right: an event at the
  * span start, at the span end, adjacent event blocks, and a seed and an
  * admission landing on the SAME block — and asserts the final accounts /
  * totals / subscription / registry tables and the compact state after a
  * span-chunked run are bit-identical to an all-per-block run of the same
  * script (reference semantics: store/transfer_processor.go processes
  * strictly block-at-a-time; the vectorized span is OUR optimization and
  * must be observationally invisible).
  *
  * Scripts are seed-pinned (deterministic `scala.util.Random`) so a
  * failure reproduces exactly.
  */
@org.scalatest.tags.Slow // ~10 min of randomized seeds: testFull territory
class SpanEquivalencePropertySpec extends SparkSpec {
  import spark.implicits._

  private val noTokens = Seq.empty[(Array[Byte], Long)].toDF("address", "block_number")

  private sealed trait Event
  private case class NewSub(addr: Array[Byte], group: Long) extends Event
  private case class NewToken(addr: Array[Byte]) extends Event

  /** Chain of `n` blocks where alice pays carol each block (fees + value
    * transfers all the way through), alice subscribed from genesis.
    */
  private def build(n: Long): TableStore = {
    val store = TableStore(spark,
      Files.createTempDirectory("graft-span-eq").toString)
    var parent = hash32(0)
    val bundles = (1L to n).map { i =>
      val t = tx(i.toInt, alice, carol, 500, gasPrice = 100L)
      val b = block(i, parent, txs = Seq(t)); parent = b.hash
      Bundle(b, Seq(receipt(t, i)), Seq(TransferLog(t.hash, alice, carol, "500", i)))
    }
    ChainIngest.ingestBatch(spark, store, bundles.toDS().toDF(), noTokens)
    store.replace(BalanceIngest.SubsTable,
      Seq((1L, 1L, 1L, alice)).toDF("id", "block_number", "group", "address"))
    store
  }

  /** Generate the script: head length and events keyed by the block whose
    * processing they precede. Seed-dependent edges are forced in so every
    * few seeds cover span-start, span-end, adjacent, and same-block
    * seed+admission placements.
    */
  private def genScript(seed: Long): (Long, Map[Long, Seq[Event]]) = {
    val rnd = new Random(seed)
    val n = 6L + rnd.nextInt(9) // 6..14 blocks
    var evBlocks = rnd.shuffle((1L to n).toList).take(1 + rnd.nextInt(3)).toSet
    if (seed % 2 == 0) evBlocks += 1L            // event at span start
    if (seed % 3 == 0) evBlocks += n             // event at span end
    if (seed % 2 == 1 && n >= 4) evBlocks ++= Set(2L, 3L) // adjacent events
    var idCtr = 10L
    var addrCtr = 100
    val events = evBlocks.toList.sorted.map { b =>
      val evs = rnd.nextInt(3) match {
        case 0 => // admission
          idCtr += 1; addrCtr += 1
          Seq(NewSub(addr20(addrCtr), 1L + rnd.nextInt(3)))
        case 1 => // token seed
          addrCtr += 1
          Seq(NewToken(addr20(addrCtr)))
        case _ => // seed + admission on the SAME block
          idCtr += 1; addrCtr += 2
          Seq(NewSub(addr20(addrCtr - 1), 1L + rnd.nextInt(3)), NewToken(addr20(addrCtr)))
      }
      b -> evs
    }.toMap
    (n, events)
  }

  private def inject(store: TableStore, evs: Seq[Event]): Unit = {
    val subs = evs.collect { case NewSub(a, g) => (a, g) }
    if (subs.nonEmpty) {
      val existing = store.readOr(BalanceIngest.SubsTable, null)
      val maxId = existing.agg(max("id")).head().getLong(0)
      val rows = subs.zipWithIndex.map { case ((a, g), i) =>
        (maxId + 1 + i, 0L, g, a)
      }.toDF("id", "block_number", "group", "address")
      store.replace(BalanceIngest.SubsTable, existing.unionByName(rows))
    }
    val toks = evs.collect { case NewToken(a) => (a, 0L, 18, "TOK") }
    if (toks.nonEmpty) {
      val rows = toks.toDF("address", "block_number", "decimals", "name")
      val existing = store.readOr(BalanceIngest.RegistryTable, null)
      store.replace(BalanceIngest.RegistryTable,
        if (existing == null) rows else existing.unionByName(rows))
    }
  }

  /** Run the script: inject each block's events, then process up to the
    * next injection point — as one span (`perBlock = false`) or strictly
    * block-at-a-time (`perBlock = true`, the reference's semantics).
    */
  private def run(seed: Long, perBlock: Boolean): TableStore = {
    val (n, events) = genScript(seed)
    val store = build(n)
    val client = BlockAwareBalanceClient(
      spark.sparkContext.longAccumulator(s"span-eq-$seed-$perBlock"))
    def seg(from: Long, to: Long): Unit = if (from <= to) {
      if (perBlock) (from to to).foreach(i =>
        BalanceIngest.processRange(spark, store, i, i, client))
      else BalanceIngest.processRange(spark, store, from, to, client)
    }
    var cursor = 1L
    events.keys.toList.sorted.foreach { p =>
      seg(cursor, p - 1)
      inject(store, events(p))
      cursor = p
    }
    seg(cursor, n)
    store
  }

  private def snapshot(store: TableStore): Map[String, Set[String]] =
    Seq(BalanceIngest.AccountsTable, BalanceIngest.TotalsTable,
      BalanceIngest.MatchedTable, BalanceIngest.SubsTable,
      BalanceIngest.RegistryTable).map { t =>
      val df = store.readOr(t, null)
      t -> (if (df == null) Set.empty[String]
            else df.collect().map { r =>
              r.toSeq.map {
                case b: Array[Byte] => BigInt(1, b).toString
                case d: java.math.BigDecimal => d.toBigInteger.toString
                case v => String.valueOf(v)
              }.mkString("|")
            }.toSet)
    }.toMap

  private def stateRows(store: TableStore): Set[String] =
    BalanceIngest.loadState(spark, store).latestAccounts.collect().map { r =>
      r.toSeq.map {
        case b: Array[Byte] => BigInt(1, b).toString
        case d: java.math.BigDecimal => d.toBigInteger.toString
        case v => String.valueOf(v)
      }.mkString("|")
    }.toSet

  Seq(3L, 4L, 8L, 21L, 34L, 55L).foreach { seed =>
    test(s"span-chunked run ≡ per-block run under random event placement (seed $seed)") {
      val a = run(seed, perBlock = false)
      val b = run(seed, perBlock = true)
      val sa = snapshot(a); val sb = snapshot(b)
      sa.keys.foreach { t =>
        assert(sa(t) == sb(t),
          s"seed $seed: table $t diverged (span-only ${(sa(t) -- sb(t)).take(3)}, " +
            s"per-block-only ${(sb(t) -- sa(t)).take(3)})")
      }
      assert(stateRows(a) == stateRows(b), s"seed $seed: compact state diverged")
      assert(BalanceIngest.processedThrough(a) == BalanceIngest.processedThrough(b),
        s"seed $seed: watermark diverged")
    }
  }
}
