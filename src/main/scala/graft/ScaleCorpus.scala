package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus scaler: writes an sf1-shaped corpus as `factor`
  * structure-preserving replicas of the driver's sf0.1 tables, so the
  * bench can be run one scale up (the round-11 verdict's ask: make the
  * count-gate/valve scale claims EMPIRICAL, not design-audited).
  *
  * Replication must not distort the cost SHAPE the operators are graded
  * on, so each table transforms per replica r:
  *   - every key/FK column shifts by r·10⁹ (joins stay intact, selectivity
  *     per key unchanged; dimension FKs — nationkey/regionkey — stay put
  *     and the tiny dims copy untouched, exactly how TPC-H scales);
  *   - document TEXT gets every token suffixed `_r{r}` (r>0): within a
  *     replica every shingle/k-gram/token relation is isomorphic to
  *     sf0.1's — the dup-family structure scales linearly — while ACROSS
  *     replicas no shingle collides, so near-dup mass doesn't explode
  *     quadratically (10 verbatim copies would turn every doc into a
  *     10-member dup family and grade a different workload);
  *   - embeddings flip each component's sign by a hash of (r, dim):
  *     within-replica cosine structure is EXACTLY preserved (a fixed sign
  *     pattern S has cos(Sx,Sy)=cos(x,y)), cross-replica vectors land
  *     near-orthogonal — cluster/kNN shape scales, near-dup mass doesn't;
  *   - events keep their timestamps (10× the users in the same window —
  *     sessionization scales by population, not span).
  *
  * Usage: runMain graft.ScaleCorpus [src] [dst] [factor]
  */
object ScaleCorpus {

  private val Stride = 1000000000L // above every sf0.1 key, round decimal

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local("graft-scale-corpus")
    scale(spark, src, dst, factor)
    spark.stop()
  }

  def scale(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame, files: Int): Unit =
      df.repartition(files).write.mode("overwrite").parquet(s"$dst/$name.parquet")

    def replicate(df: DataFrame, keys: Seq[String])
                 (tweak: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { r =>
        val shifted = keys.foldLeft(df)((d, c) =>
          d.withColumn(c, (col(c) + lit(r * Stride)).cast(df.schema(c).dataType)))
        tweak(shifted, r)
      }.reduce(_ unionByName _)

    // dims copy untouched (TPC-H holds nation/region constant across SFs)
    write("region", read("region"), 1)
    write("nation", read("nation"), 1)

    write("customer", replicate(read("customer"), Seq("c_custkey"))(), 4)
    write("supplier", replicate(read("supplier"), Seq("s_suppkey"))(), 2)
    write("part",     replicate(read("part"), Seq("p_partkey"))(), 4)
    write("orders",   replicate(read("orders"), Seq("o_orderkey", "o_custkey"))(), 8)
    write("lineitem",
      replicate(read("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey"))(), 16)
    write("events",   replicate(read("events"), Seq("event_id", "user_id"))(), 8)

    write("documents", replicate(read("documents"), Seq("doc_id")) { (d, r) =>
      if (r == 0) d
      else d
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1_r$r"))
        .withColumn("n_chars", length(col("text")))
    }, 16)

    write("embeddings", replicate(read("embeddings"), Seq("vec_id")) { (d, r) =>
      if (r == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          (x * when(pmod(xxhash64(lit(r), i), lit(2)) === 0, 1.0f).otherwise(-1.0f))
            .cast("float")))
    }, 8)
  }
}
