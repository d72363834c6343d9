package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.chain._
import graft.chain.Fixtures._
import graft.chain.Schemas._

/** S1 end-to-end: the custom MicroBatchStream source feeding the full
  * ingest DAG — sequential catch-up under the per-trigger cap, then a
  * heavier fork arriving on the live feed and reorging the store.
  */
class BundleStreamSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): TableStore =
    TableStore(spark, Files.createTempDirectory("graft-s1").toString)

  private val noTokens = Seq.empty[(Array[Byte], Long)].toDF("address", "block_number")

  private def mkChain(start: Long, end: Long, parent: Array[Byte],
                      difficulty: Long = 1000L, hashSeedBase: Int = -1): Seq[Bundle] =
    bundleChain(start, end, parent, difficulty, hashSeedBase)

  test("MicroBatchStream source drives ingest incl. catch-up cap and reorg (S1/T1/T3/T5)") {
    val store = freshStore()
    val subId = "s1-spec"
    val sub   = new QueueHeadSubscription
    HeadSubscriptions.register(subId, sub)
    sub.push(mkChain(1, 120, hash32(0)): _*) // > 2 triggers at cap 50

    val bundles = spark.readStream
      .format(classOf[BundleStreamProvider].getName)
      .option(BundleStream.SubscriptionOption, subId)
      .option(BundleStream.MaxBlocksOption, "50")
      .load()
    assert(bundles.isStreaming)

    val checkpoint = Files.createTempDirectory("graft-s1-ckpt").toString
    val q = ChainIngest.start(bundles, store, noTokens, checkpoint)
    try {
      q.processAllAvailable()
      assert(ChainIngest.loadHead(store).exists(_.number == 120L))
      // the cap split the backlog into ≥ 3 micro-batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3)

      // live reorg: heavier fork 100'..121' delivered on the same feed
      sub.push(mkChain(100, 121, hash32(99), difficulty = 5000L, hashSeedBase = 9000): _*)
      q.processAllAvailable()

      val head = ChainIngest.loadHead(store).get
      assert(head.number == 121L)
      assert(head.td == BigInt(99 * 1000 + 22 * 5000))
      val reorgs = store.readOr(ChainIngest.ReorgsTable, null).collect()
      assert(reorgs.length == 1 && reorgs(0).getAs[Long]("from") == 100L)
      val counts = store.readOr(ChainIngest.HeadersTable, null)
        .groupBy("number").count().filter(col("count") > 1).count()
      assert(counts == 0L) // one row per height after the reorg
    } finally q.stop()
  }

  test("loadHead re-derives from headers with td=0 when total_difficulty is absent") {
    // partial/legacy sink: headers landed, head_state and total_difficulty
    // did not — re-derivation must seed td=0, not NPE on a null relation
    val store = freshStore()
    store.append(ChainIngest.HeadersTable,
      Seq((7L, hash32(7)), (8L, hash32(8))).toDF("number", "hash"))
    val head = ChainIngest.loadHead(store)
    assert(head.exists(h => h.number == 8L && h.td == BigInt(0)))
  }

  test("restart from checkpoint resumes at the committed offset (S1/T4)") {
    val store = freshStore()
    val subId = "s1-restart"
    val sub   = new QueueHeadSubscription
    HeadSubscriptions.register(subId, sub)
    sub.push(mkChain(1, 10, hash32(0)): _*)

    def mkDf = spark.readStream
      .format(classOf[BundleStreamProvider].getName)
      .option(BundleStream.SubscriptionOption, subId)
      .load()
    val checkpoint = Files.createTempDirectory("graft-s1-ckpt2").toString

    val q1 = ChainIngest.start(mkDf, store, noTokens, checkpoint)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(ChainIngest.loadHead(store).exists(_.number == 10L))

    sub.push(mkChain(11, 15, hash32(10)): _*)
    val q2 = ChainIngest.start(mkDf, store, noTokens, checkpoint)
    try {
      q2.processAllAvailable()
      assert(ChainIngest.loadHead(store).exists(_.number == 15L))
      // replay did not duplicate any height
      val dups = store.readOr(ChainIngest.TdTable, null)
        .groupBy("block").count().filter(col("count") > 1).count()
      assert(dups == 0L)
    } finally q2.stop()
  }
}
