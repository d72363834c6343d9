package graft.chain

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import graft.SparkSpec

class ParSpec extends SparkSpec {

  test("pool jobs carry the calling query's job group and batch id, across batches and queries") {
    val sc = spark.sparkContext
    val tag = "graft-par-probe"
    // (job group, batch id) of every job a Par thunk submitted
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties.getProperty("spark.job.tags")).exists(_.split(',').contains(tag)))
          seen.add((e.properties.getProperty("spark.jobGroup.id"),
            e.properties.getProperty("streaming.sql.batchId"))): Unit
    }
    sc.addSparkListener(listener)
    try (1 to 2).foreach { _ =>
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val src = MemoryStream[Long]
      val q = src.toDF().writeStream
        .option("checkpointLocation", Files.createTempDirectory("graft-par-ckpt").toString)
        .foreachBatch { (_: DataFrame, _: Long) =>
          Par.run(Seq.fill(8)(() => { sc.addJobTag(tag); sc.parallelize(1 to 4, 2).count(): Unit }))
        }
        .start()
      try (0L to 1L).foreach { bid =>
        src.addData(bid)
        q.processAllAvailable()
        eventually(timeout(Span(30, Seconds))) { assert(seen.size == 8) }
        assert(seen.asScala.toSet == Set((q.runId.toString, bid.toString)),
          s"batch $bid of query ${q.runId}: pool jobs carried ${seen.asScala.toSet}")
        seen.clear()
      } finally q.stop()
    } finally sc.removeSparkListener(listener)
  }
}
