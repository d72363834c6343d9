package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main and the test suite
  * come through here, so `graft.Bench`, `graft.Profile` and the product all
  * time the same session config: master, app name, shuffle partitions =
  * cores, WARN logs, and nothing else. The UI switch and the UTC session
  * time zone come from the JVM flags every launcher passes (build.sbt
  * `javaOptions`, `perfbench/run.py`).
  */
object GraftSession {

  /** Cores for the non-product mains: `SPARK_GRAFT_CPUS`, else every
    * core of the box — the product mains' count.
    */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** The settings a session is built from, apart from JVM-flag defaults. */
  def settings(appName: String, master: String, cores: Int): Map[String, String] = Map(
    "spark.app.name" -> appName,
    "spark.master" -> master,
    "spark.sql.shuffle.partitions" -> cores.toString)

  def apply(settings: Map[String, String]): SparkSession = {
    val spark = SparkSession.builder().config(settings).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def apply(appName: String, master: String, cores: Int): SparkSession =
    apply(settings(appName, master, cores))

  /** `local[cores]` session for the non-product mains. */
  def local(appName: String): SparkSession = apply(appName, s"local[$cores]", cores)
}
