package graft.chain

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bucketed-layout invariants of the table store: range deletes touch only
  * overlapping buckets, edge buckets rewrite, covered buckets drop out of
  * the manifest.
  */
class TableStoreSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(bucketSize: Long = 10L): TableStore =
    TableStore(spark, Files.createTempDirectory("graft-ts").toString, bucketSize)

  private def rows(store: TableStore, table: String): Seq[Long] =
    store.readOr(table, null).select("n").collect().map(_.getLong(0)).sorted.toSeq

  test("deleteRange removes exactly the range across bucket kinds") {
    val store = fresh()
    store.appendBucketed("t", (0L until 100L).toDF("n"), "n")
    // [15, 74]: bucket 1 partial, buckets 2-6 fully covered, bucket 7 partial
    store.deleteRange("t", "n", 15L, 74L)
    assert(rows(store, "t") == ((0L to 14L) ++ (75L to 99L)))
    // fully-covered buckets are gone (no rewrite), edge buckets remain
    assert(store.fileCounts("t").keySet == Set(0, 1, 7, 8, 9).map(b => s"bucket=$b"))
  }

  test("deleteRange aligned exactly on bucket boundaries") {
    val store = fresh()
    store.appendBucketed("t", (0L until 40L).toDF("n"), "n")
    store.deleteRange("t", "n", 10L, 29L) // buckets 1-2 exactly
    assert(rows(store, "t") == ((0L to 9L) ++ (30L to 39L)))
    assert(store.fileCounts("t").keySet == Set("bucket=0", "bucket=3"))
  }

  test("deleteRange beyond the data and on missing tables is a no-op") {
    val store = fresh()
    store.deleteRange("absent", "n", 0L, 100L) // missing table
    store.appendBucketed("t", (0L until 5L).toDF("n"), "n")
    store.deleteRange("t", "n", 50L, 90L) // empty overlap
    assert(rows(store, "t") == (0L to 4L))
  }

  test("readRange prunes to the requested bucket span") {
    val store = fresh()
    store.appendBucketed("t", (0L until 100L).toDF("n"), "n")
    val got = store.readRange("t", "n", 35L, 44L, null)
    assert(got.select("n").collect().map(_.getLong(0)).sorted.toSeq == (35L to 44L))
    // pruned at PATH level: only the in-range bucket keys' physical dirs
    // are ever listed
    assert(got.inputFiles.nonEmpty &&
      got.inputFiles.forall(f => f.contains("/bucket=3/") || f.contains("/bucket=4/")))
  }

  test("exists requires a data file: empty appends and hidden leftovers don't count") {
    val store = fresh()
    // an append of an EMPTY DataFrame writes only _SUCCESS — the table must
    // still read as absent or spark.read.parquet dies on schema inference
    store.appendBucketed("e", Seq.empty[Long].toDF("n"), "n")
    assert(!store.exists("e"))
    // …but the schema sidecar still yields a TYPED empty frame
    val empty = store.readOr("e", null)
    assert(empty != null && empty.columns.sameElements(Array("n")) && empty.count() == 0L)
    assert(store.read("e", null).schema.fieldNames.sameElements(Array("n")))

    // hidden leftovers (a crashed stage's .d-* dir, _SUCCESS) alone must
    // not count either, nor read as the legacy layout
    val leftover = Paths.get(store.root, "l", ".d-crashed")
    Files.createDirectories(leftover)
    Files.writeString(leftover.resolve("part-0.parquet"), "junk")
    Files.writeString(Paths.get(store.root, "l", "_SUCCESS"), "")
    assert(!store.exists("l"))

    // a real data file flips it
    store.appendBucketed("l", Seq(1L).toDF("n"), "n")
    assert(store.exists("l"))
    assert(rows(store, "l") == Seq(1L))
  }

  test("append after a range delete lands in fresh bucket files") {
    val store = fresh()
    store.appendBucketed("t", (0L until 20L).toDF("n"), "n")
    store.deleteRange("t", "n", 10L, 19L)
    store.appendBucketed("t", (10L until 20L).map(n => n + 1000).toDF("n"), "n")
    assert(rows(store, "t") == ((0L to 9L) ++ (1010L to 1019L)))
  }

  test("the schema sidecar is rewritten only when the schema changes") {
    val store = fresh()
    def sidecar(t: String) = Paths.get(store.root, t, ".schema.json")
    def stamp(t: String) = (Files.readString(sidecar(t)), Files.getLastModifiedTime(sidecar(t)))
    def unchanged(t: String)(write: => Unit): Unit = {
      val before = stamp(t)
      Thread.sleep(20) // past the FS timestamp granularity: a rewrite must show
      write
      assert(stamp(t) == before, s"$t sidecar rewritten")
    }
    store.append("a", Seq(1L).toDF("n"))
    unchanged("a")(store.append("a", Seq(2L).toDF("n")))
    store.appendBucketed("b", Seq(1L).toDF("n"), "n")
    unchanged("b")(store.appendBucketed("b", Seq(12L).toDF("n"), "n"))
    store.replace("r", Seq(1L).toDF("n"))
    unchanged("r")(store.replace("r", Seq(2L).toDF("n")))
    unchanged("r")(store.replaceAll(Seq("r" -> Seq(3L).toDF("n"))))
    assert(rows(store, "r") == Seq(3L))
    // a schema change rewrites it; a dropped table gets a fresh one
    store.replace("r", Seq((4L, "x")).toDF("n", "v"))
    assert(store.read("r", null).schema.fieldNames.toSeq == Seq("n", "v"))
    store.drop("a")
    assert(!Files.exists(sidecar("a")))
    store.append("a", Seq(5L).toDF("n"))
    assert(Files.exists(sidecar("a")) && rows(store, "a") == Seq(5L))
  }

  test("the store runs against a URI-scheme root (file://) through the Hadoop FS API") {
    // every path op goes through org.apache.hadoop.fs.FileSystem resolved
    // from the root's scheme, so a cluster deployment points dataDir at
    // hdfs://… — this exercises the same dispatch with the local scheme
    val store = TableStore(spark,
      "file://" + Files.createTempDirectory("graft-ts-uri").toString, bucketSize = 10L)
    store.appendBucketed("t", (0L until 40L).toDF("n"), "n")
    store.deleteRange("t", "n", 5L, 24L) // bucket 0/2 partial, bucket 1 covered
    assert(rows(store, "t") == ((0L to 4L) ++ (25L to 39L)))
    // whole-table replace reading its own previous generation
    store.replace("s", Seq((1L, "a"), (2L, "b")).toDF("n", "v"))
    store.replace("s", store.readOr("s", null).filter(col("n") === 2L))
    assert(store.readOr("s", null).collect().map(_.getLong(0)).toSeq == Seq(2L))
    // schema sidecar round-trips through the scheme too
    store.deleteRange("t", "n", 0L, 100L)
    assert(!store.exists("t"))
    assert(store.read("t", null).schema.fieldNames.sameElements(Array("n")))
    // category partitions + threshold compaction under file://
    (1 to 5).foreach { i =>
      store.appendPartitioned("p", Seq((i.toLong, i % 2)).toDF("n", "shard"), "shard")
    }
    assert(store.compactPartitions("p", "shard", maxFiles = 1) > 0)
    assert(store.readOr("p", null).count() == 5L)
  }

  test("an open after a commit lists nothing the store wrote, past the parallel threshold") {
    import org.apache.spark.metrics.source.HiveCatalogMetrics
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val store = fresh()
    // 48 keys: more paths than Spark's 32-path threshold, past which an
    // unseeded open lists them in a Spark job
    store.appendPartitioned("p", (0L until 480L).map(n => (n, (n % 48).toInt))
      .toDF("n", "shard"), "shard")
    val listings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("Listing leaf files")).foreach(listings.add)
    }
    Thread.sleep(300)
    spark.sparkContext.addSparkListener(listener)
    val discovered = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    try {
      assert(store.read("p", null).count() == 480L)
      assert(HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount == discovered,
        "the open must take every committed dir's files from the store's cache")
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(listings.isEmpty, s"listing jobs ran: $listings")
  }

  test("a partitioned append writes one file per key from a many-partition input") {
    val store = fresh()
    val in = (0L until 400L).map(n => (n, (n % 20).toInt))
    (1 to 2).foreach { i =>
      store.appendPartitioned("p", in.toDF("n", "shard").repartition(8), "shard")
      val counts = store.fileCounts("p")
      assert(counts.keySet == (0 until 20).map(s => s"shard=$s").toSet)
      assert(counts.values.toSet == Set(i.toLong), s"one file per key per append: $counts")
    }
    val got = store.readOr("p", null).select("n", "shard").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got.sorted == (in ++ in).sorted)
  }

  test("a table in the rename-era layout fails loudly instead of reading as absent") {
    // stores written before the manifest protocol hold visible parquet
    // files and no manifest; reading one as absent would make ingest
    // restart from scratch beside the old rows
    val store = fresh()
    Seq(1L, 2L).toDF("n").write.parquet(Paths.get(store.root, "t").toString)
    Seq(1L, 2L).toDF("n").withColumn("bucket", lit(0L))
      .write.partitionBy("bucket").parquet(Paths.get(store.root, "b").toString)
    Seq("t", "b").foreach { t =>
      val ex = intercept[IllegalStateException](store.exists(t))
      assert(ex.getMessage.contains(s"'$t'") && ex.getMessage.contains("rename"))
    }
  }

  test("a reader beside the writer sees only committed generations") {
    import java.util.concurrent.ConcurrentHashMap
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}
    val store = fresh()
    // every (table, count) a generation can hold is registered BEFORE the
    // mutation that commits it, so a read of any committed generation
    // matches and a torn or mixed read does not
    val committed = ConcurrentHashMap.newKeySet[(String, Long)]()
    val stop    = new AtomicBoolean(false)
    val failure = new AtomicReference[Throwable]()
    val reads   = new AtomicInteger()
    val reader = new Thread(() =>
      try while (!stop.get) {
        Seq("b", "s").foreach { t =>
          if (store.exists(t)) {
            val c = store.readOr(t, null).count()
            if (!committed.contains((t, c)))
              throw new AssertionError(s"read $c rows of '$t', no committed generation holds that")
          }
        }
        reads.incrementAndGet()
      } catch { case e: Throwable => failure.set(e) })
    reader.start()
    var n = 0L // rows of "b"
    try (0 until 30).foreach { i =>
      val lo = 10L * (i / 3 * 3)
      i % 3 match {
        case 0 => // five fresh rows in their own bucket
          committed.add(("b", n + 5))
          store.appendBucketed("b", (lo until lo + 5).toDF("n"), "n")
          n += 5
        case 1 => // retract three of them: an edge-bucket rewrite
          committed.add(("b", n - 3))
          store.deleteRange("b", "n", lo, lo + 2)
          n -= 3
        case _ =>
          committed.add(("s", i.toLong))
          store.replace("s", (0L until i.toLong).toDF("n"))
      }
    } finally { stop.set(true); reader.join() }
    Option(failure.get).foreach(e => fail(s"reader failed beside the writer: $e", e))
    assert(reads.get > 0)
    assert(store.readOr("b", null).count() == n && rows(store, "s") == (0L until 29L))
  }
}
