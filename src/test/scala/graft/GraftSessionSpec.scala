package graft

import java.nio.file.{Files, Paths}

/** The product mains build the session the benchmark times: the
  * configured master, shuffle partitions = cores, and no shuffle-writer
  * tuning of their own (`perfbench.Main.session` mirrors exactly this).
  */
class GraftSessionSpec extends SparkSpec {

  private val cores = Runtime.getRuntime.availableProcessors.toString

  private def assertProductSession(app: String, settings: Map[String, String], master: String): Unit = {
    assert(settings == Map("spark.app.name" -> app, "spark.master" -> master,
      "spark.sql.shuffle.partitions" -> cores))
    assert(!settings.keys.exists(_.startsWith("spark.shuffle.")))
  }

  test("Indexer.main and PipelineRunner.main build the one product session") {
    val indexer = Indexer.parseConfig(Files.readString(Paths.get("configs/indexer.yaml")))
    assertProductSession("graft-indexer", Indexer.sessionSettings(indexer), "local[*]")
    assertProductSession("graft-indexer",
      Indexer.sessionSettings(indexer.copy(master = "spark://head:7077")), "spark://head:7077")
    val pipeline = PipelineRunner.parseConfig(Files.readString(Paths.get("configs/pipeline.yaml")))
    assertProductSession("graft-pipeline", PipelineRunner.sessionSettings(pipeline), "local[*]")
  }

  test("the test session comes from GraftSession with no shuffle-writer setting") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    assert(!spark.sparkContext.getConf.getAll.exists(_._1.startsWith("spark.shuffle.")))
  }
}
