package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The native d16 kernel vs the declarative in-row chain it replaced
  * (itself equivalence-proven against the exploded window form via the
  * DuckDB oracle): identical (n_repeat_grams, covered_chars) on repeats,
  * overlapping and touching islands, multi-byte UTF-8 text (the kernel
  * hashes char-window BYTES — must equal xxhash64(substring(...)) which
  * is code-point based), short/empty/null text.
  */
class SelfRepStatsSpec extends SparkSpec {

  import spark.implicits._

  /** The declarative chain over `df`'s `__txt`, as columns `rn`
    * (n_repeat_grams) and `rc` (covered_chars). The sorted gram array and
    * the repeat positions are staged as columns so each is computed once
    * per row: the filter lambda and the two outputs read them by reference
    * (the optimizer keeps a non-cheap column that is read more than once
    * instead of inlining it), where inlined text would re-sort the grams
    * for every element the lambda visits.
    */
  private def ref(df: DataFrame, k: Int): DataFrame = {
    val grams =
      s"""CASE WHEN length(__txt) >= $k THEN
         |  array_sort(transform(sequence(1, length(__txt) - ${k - 1}),
         |    i -> named_struct('h', xxhash64(substring(__txt, i, $k)), 'p', i)))
         |ELSE CAST(array() AS ARRAY<STRUCT<h: BIGINT, p: INT>>) END""".stripMargin
    val repeats =
      """array_sort(transform(
        |  filter(__grams, (x, i) -> i > 0 AND x.h = element_at(__grams, i).h),
        |  x -> x.p))""".stripMargin
    val covered =
      s"""aggregate(__repeats,
         |  named_struct('st', -1, 'en', -1, 'cov', CAST(0 AS BIGINT)),
         |  (a, p) -> CASE
         |    WHEN a.st = -1 THEN named_struct('st', p, 'en', p + $k, 'cov', a.cov)
         |    WHEN p > a.en  THEN named_struct('st', p, 'en', p + $k,
         |                          'cov', a.cov + CAST(a.en - a.st AS BIGINT))
         |    ELSE named_struct('st', a.st, 'en', greatest(a.en, p + $k), 'cov', a.cov)
         |  END,
         |  a -> CASE WHEN a.st = -1 THEN CAST(0 AS BIGINT)
         |            ELSE a.cov + CAST(a.en - a.st AS BIGINT) END)""".stripMargin
    df.withColumn("__grams", expr(grams))
      .withColumn("__repeats", expr(repeats))
      .withColumn("rn", expr("CAST(size(__repeats) AS BIGINT)"))
      .withColumn("rc", expr(covered))
      .drop("__grams", "__repeats")
  }

  test("kernel matches the declarative chain on every fixture class") {
    val k = 4
    val texts = Seq(
      "abcdabcdabcd",              // overlapping repeats, one island
      "abcdXYZWabcdQRSTabcd",      // separated islands
      "aaaaaaaaaaaa",              // maximal overlap (every gram equal)
      "abcdefghij",                // no repeats
      "abc",                       // shorter than k
      "",                          // empty
      "héllo wörld héllo wörld",   // multi-byte: char offsets ≠ byte offsets
      "abéd" * 5,             // repeated multi-byte gram
      "世界世界世界世界", // CJK 3-byte chars
      "x" * 200 + "y" + "x" * 200) // long tail islands
    val df = texts.toDF("__txt")
    val rows = ref(df, k).select(
      SelfRepStats(col("__txt"), k).as("s"), col("rn"), col("rc")).collect()
    rows.zip(texts).foreach { case (r, t) =>
      val s = r.getStruct(0)
      assert(s.getLong(0) == r.getLong(1),
        s"n_repeat_grams mismatch for '$t': native ${s.getLong(0)} vs ref ${r.getLong(1)}")
      assert(s.getLong(1) == r.getLong(2),
        s"covered_chars mismatch for '$t': native ${s.getLong(1)} vs ref ${r.getLong(2)}")
    }
  }

  test("null text reports zeros (the left-join-zeros contract)") {
    val df = Seq(Option.empty[String]).toDF("__txt")
    val r = df.select(SelfRepStats(col("__txt"), 4).as("s")).collect()(0).getStruct(0)
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
  }

  test("operator face matches the declarative chain at k=20 on corpus text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val got = graft.operators.Dedup
      .selfRepetitionCoverage(docs, "doc_id", "text", k = 20)
      .select(col("doc_id"), col("n_repeat_grams"), col("covered_chars"))
    val want = ref(docs.select(col("doc_id"), col("text").as("__txt")), 20)
      .select(col("doc_id"), col("rn").as("n_repeat_grams"), col("rc").as("covered_chars"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "operator output diverged from the declarative chain on corpus text")
  }
}
