package graft

/** Driver-style smoke check: SparkEntry.entry on sf0.001 must return rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-smoke")
    val rows = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$rows")
    require(rows > 0, "entry returned no rows")
    spark.stop()
  }
}
