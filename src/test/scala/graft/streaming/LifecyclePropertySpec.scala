package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec
import graft.chain._
import graft.chain.Fixtures._
import graft.chain.Schemas._

/** SURVEY §5c — lifecycle property tests: ScalaCheck-generated scripts of
  * chain extensions, heavier forks, and subscription arrivals drive the
  * FULL composed pipeline (ingest → retraction → balances → serving
  * cache), and after every step the system must satisfy the lifecycle
  * invariants, whatever the script:
  *
  *   1. totals telescope: every total_balances row equals the sum of its
  *      group's latest account snapshots at that height (the pipeline's
  *      prev+delta carry must never drift from its own snapshots);
  *   2. TD is strictly monotonic along the canonical chain and equals the
  *      model's running difficulty sum;
  *   3. retraction is total: no table holds a row from a dropped branch —
  *      canonical heights carry exactly the canonical payload;
  *   4. the serving cache never answers with a retracted block, and serves
  *      every canonical height correctly after arbitrary reorg churn.
  *
  * Scripts are ScalaCheck generators pinned to fixed seeds so a failure
  * reproduces; op counts stay small because every op is a full
  * micro-batch through Spark.
  */
class LifecyclePropertySpec extends SparkSpec {
  import spark.implicits._

  private sealed trait Op
  private case class Extend(blocks: Int, txMask: Int) extends Op
  private case class Fork(depth: Int, extra: Int) extends Op
  private case class Subscribe(addrSeed: Int, group: Long) extends Op

  private val genOp: Gen[Op] = Gen.frequency(
    5 -> (for { b <- Gen.choose(1, 3); m <- Gen.choose(0, 7) } yield Extend(b, m)),
    3 -> (for { d <- Gen.choose(1, 3); e <- Gen.choose(1, 2) } yield Fork(d, e)),
    2 -> (for { a <- Gen.choose(1, 6); g <- Gen.choose(1L, 3L) } yield Subscribe(a, g)))

  private def script(seed: Long): List[Op] =
    Gen.listOfN(7, genOp).pureApply(Gen.Parameters.default, Seed(seed))

  /** One script interpreted against a fresh store; invariants checked after
    * every op.
    */
  private def runScript(seed: Long): Unit = {
    val store = TableStore(spark,
      Files.createTempDirectory(s"graft-prop-$seed").toString)
    val client = BlockAwareBalanceClient(spark.sparkContext.longAccumulator(s"prop-$seed"))
    val cache = CachedChainStore.live(() => ChainStore(
      headers = store.readOr(ChainIngest.HeadersTable, null),
      transactions = store.readOr(ChainIngest.TxTable, null),
      receipts = store.readOr(ChainIngest.ReceiptsTable, null),
      receiptLogs = store.readOr(ChainIngest.LogsTable, null),
      totalDifficulty = store.readOr(ChainIngest.TdTable, null),
      transfers = store.readOr(ChainIngest.TransfersTable, null),
      accounts = store.readOr(BalanceIngest.AccountsTable, null),
      subscriptions = store.readOr(BalanceIngest.SubsTable, null),
      reorgs = store.readOr(ChainIngest.ReorgsTable, null),
      tokens = store.readOr(BalanceIngest.RegistryTable, null)))

    var canonical = Vector.empty[Bundle] // canonical(i) = block i+1
    var dropped   = List.empty[Array[Byte]] // hashes retired by forks
    var hashCtr   = 5000 // clear of tx-fixture hashes (hash32(1000+seed))
    var txCtr     = 1
    var subCtr    = 0L
    val addrPool  = (1 to 6).map(addr20)

    def deliver(bundles: Seq[Bundle]): Unit =
      FullIngest.processBatch(spark, store,
        (if (bundles.isEmpty) Seq.empty[Bundle] else bundles).toDS().toDF(),
        client, cache = Some(cache))

    def mkBlocks(from: Long, parent: Array[Byte], n: Int, diff: Long, txMask: Int): Seq[Bundle] = {
      val base = hashCtr; hashCtr += n + 3
      (0 until n).map { i =>
        val height = from + i
        val txs =
          if (((txMask >> i) & 1) == 1) {
            val t = tx(txCtr, addrPool((txCtr + i) % 6), addrPool((txCtr + i + 1) % 6),
              100 + txCtr, gasPrice = 50L + i)
            txCtr += 1
            Seq(t)
          } else Nil
        (height, txs)
      }.foldLeft((parent, Vector.empty[Bundle])) { case ((p, acc), (height, txs)) =>
        val b = block(height, p, txs = txs, difficulty = diff, hashSeed = base + (height - from).toInt)
        val logs = txs.map(t => TransferLog(t.hash, t.from, t.to.get, t.amount, height))
        (b.hash, acc :+ Bundle(b, txs.map(receipt(_, height)), logs))
      }._2
    }

    def checkInvariants(): Unit = {
      val head = canonical.length.toLong
      if (head == 0) return

      // (2)+(3a) headers/TD: exactly the canonical heights and hashes, TD
      // strictly monotonic and equal to the running difficulty sum
      val hdrs = store.readOr(ChainIngest.HeadersTable, null).collect()
        .map(r => r.getAs[Long]("number") -> r.getAs[Array[Byte]]("hash").toSeq).toMap
      assert(hdrs.keySet == (1L to head).toSet, s"seed $seed: header heights diverged")
      canonical.foreach(b =>
        assert(hdrs(b.block.number) == b.block.hash.toSeq, s"seed $seed: hash at ${b.block.number}"))
      val tds = store.readOr(ChainIngest.TdTable, null).collect()
        .map(r => r.getAs[Long]("block") -> BigInt(r.getAs[java.math.BigDecimal]("td").toBigInteger))
        .sortBy(_._1)
      assert(tds.map(_._1).toSeq == (1L to head).toSeq, s"seed $seed: td heights")
      assert(tds.sliding(2).forall { case Array((_, a), (_, b)) => b > a; case _ => true },
        s"seed $seed: TD must be strictly monotonic")
      val modelTd = canonical.scanLeft(BigInt(0))(_ + _.block.difficulty).tail
      tds.foreach { case (h, td) => assert(td == modelTd((h - 1).toInt), s"seed $seed: td at $h") }

      // (3b) no dropped-branch payload anywhere: canonical tx hashes only
      val wantTxs = canonical.flatMap(_.block.transactions.map(_.hash.toSeq)).toSet
      val gotTxs = store.readOr(ChainIngest.TxTable, null) match {
        case null => Set.empty[Seq[Byte]]
        case df => df.select("hash").collect().map(_.getAs[Array[Byte]](0).toSeq).toSet
      }
      assert(gotTxs == wantTxs, s"seed $seed: transactions diverged from the canonical chain")
      Seq(BalanceIngest.AccountsTable, BalanceIngest.TotalsTable, BalanceIngest.MatchedTable)
        .foreach { t =>
          val df = store.readOr(t, null)
          if (df != null && df.columns.contains("block_number")) {
            val over = df.filter(col("block_number") > head).count()
            assert(over == 0, s"seed $seed: $t holds rows above the canonical head")
          }
        }

      // (1) totals telescope to the sum of latest snapshots per group
      val accRows = Option(store.readOr(BalanceIngest.AccountsTable, null)).toSeq
        .flatMap(_.collect().map(r => (
          r.getAs[Array[Byte]]("token").toSeq, r.getAs[Array[Byte]]("address").toSeq,
          r.getAs[Long]("block_number"),
          BigInt(r.getAs[java.math.BigDecimal]("balance").toBigInteger),
          r.getAs[Long]("group"))))
      Option(store.readOr(BalanceIngest.TotalsTable, null)).foreach {
        _.collect().foreach { r =>
          val (n, tok, g) = (r.getAs[Long]("block_number"),
            r.getAs[Array[Byte]]("token").toSeq, r.getAs[Long]("group"))
          val want = accRows
            .filter(a => a._1 == tok && a._5 == g && a._3 <= n)
            .groupBy(_._2).values
            .map(_.maxBy(_._3)._4)
            .sum
          val got = BigInt(r.getAs[java.math.BigDecimal]("balance").toBigInteger)
          assert(got == want, s"seed $seed: totals($n, $g) = $got, snapshots sum to $want")
        }
      }

      // (4) the cache serves every canonical height and no retired hash
      canonical.takeRight(3).foreach { b =>
        val served = cache.findBlockByHash(b.block.hash).collect()
        assert(served.length == 1 && served.head.getAs[Long]("number") == b.block.number,
          s"seed $seed: cache must serve canonical block ${b.block.number}")
      }
      dropped.take(5).foreach { h =>
        assert(cache.findBlockByHash(h).collect().isEmpty,
          s"seed $seed: cache served a retracted block")
      }

      // balance watermark tracks the head
      assert(BalanceIngest.processedThrough(store).contains(head), s"seed $seed: watermark")
    }

    script(seed).foreach { op =>
      op match {
        case Extend(blocks, txMask) =>
          val parent = canonical.lastOption.map(_.block.hash).getOrElse(hash32(0))
          val from = canonical.length + 1L
          val bs = mkBlocks(from, parent, blocks, 1000L, txMask)
          canonical = canonical ++ bs
          deliver(bs)

        case Fork(depth, extra) if canonical.length >= 2 =>
          val d = math.min(depth, canonical.length - 1)
          val branchPoint = canonical.length - d // keep blocks 1..branchPoint
          val parent = canonical(branchPoint - 1).block.hash
          val bs = mkBlocks(branchPoint + 1L, parent, d + extra, 5000L, 0x5)
          dropped = canonical.drop(branchPoint).map(_.block.hash.toArray).toList ++ dropped
          canonical = canonical.take(branchPoint) ++ bs
          deliver(bs)

        case Fork(_, _) => () // no chain yet to fork

        case Subscribe(addrSeed, group) =>
          subCtr += 1
          val row = Seq((100L + subCtr, 0L, group, addr20(addrSeed)))
            .toDF("id", "block_number", "group", "address")
          val prev = store.readOr(BalanceIngest.SubsTable, null)
          store.replace(BalanceIngest.SubsTable,
            if (prev == null) row
            else prev.filter(col("address") =!= lit(addr20(addrSeed))).unionByName(row))
          deliver(Nil) // admission lands with the next processed block
      }
      checkInvariants()
    }
  }

  Seq(11L, 23L, 47L, 86L).foreach { seed =>
    test(s"lifecycle invariants hold under generated script (seed $seed)") {
      runScript(seed)
    }
  }
}
