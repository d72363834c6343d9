package graft.chain

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Range-table invariants of the table store: each dir carries its
  * [lo, hi], range deletes drop the dirs inside the range and rewrite only
  * a dir straddling it, range reads open only intersecting dirs, and
  * compaction stays off the newest dirs.
  */
class TableStoreSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): TableStore =
    TableStore(spark, Files.createTempDirectory("graft-ts").toString)

  private def rows(store: TableStore, table: String): Seq[Long] =
    store.readOr(table, null).select("n").collect().map(_.getLong(0)).sorted.toSeq

  /** `dirs` appends of ten rows each, [10i, 10i + 9] per dir. */
  private def tens(store: TableStore, table: String, dirs: Int): Unit =
    (0L until dirs).foreach(i =>
      store.appendRange(table, (10 * i until 10 * i + 10).toDF("n"), "n", 10 * i, 10 * i + 9))

  /** The current manifest's range dirs on disk: [lo, hi] → rel dir. */
  private def liveDirs(store: TableStore, table: String): Map[(Long, Long), String] = {
    val tdir = Paths.get(store.root, table)
    val v = Files.readString(tdir.resolve(".gen")).trim.split("\\s+")(0)
    Files.readString(tdir.resolve(s".manifest.$v")).linesIterator.map(_.split('\t'))
      .collect { case Array(_, rel, lo, hi) => (lo.toLong, hi.toLong) -> rel }.toMap
  }

  private def spans(store: TableStore, table: String): Seq[(Long, Long)] =
    store.rangeDirs(table).map(d => (d._1, d._2))

  private def dataDirs(store: TableStore, table: String): Set[String] =
    Files.list(Paths.get(store.root, table)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(".d-")).toSet

  test("deleteRange removes exactly the range across bucket kinds") {
    val store = fresh()
    tens(store, "t", 10)
    // [15, 74]: dir [10, 19] straddles, dirs [20, 29]..[60, 69] lie inside,
    // dir [70, 79] straddles
    store.deleteRange("t", "n", 15L, 74L)
    assert(rows(store, "t") == ((0L to 14L) ++ (75L to 99L)))
    // inside dirs are gone (no rewrite), straddlers keep narrowed bounds
    assert(spans(store, "t") == Seq((0L, 9L), (10L, 14L), (75L, 79L), (80L, 89L), (90L, 99L)))
  }

  test("deleteRange aligned exactly on bucket boundaries") {
    val store = fresh()
    tens(store, "t", 4)
    val before = dataDirs(store, "t")
    store.deleteRange("t", "n", 10L, 29L) // dirs [10, 19] and [20, 29] exactly
    assert(rows(store, "t") == ((0L to 9L) ++ (30L to 39L)))
    assert(spans(store, "t") == Seq((0L, 9L), (30L, 39L)))
    assert(dataDirs(store, "t").subsetOf(before), "an aligned delete only drops dirs")
  }

  test("deleteRange beyond the data and on missing tables is a no-op") {
    val store = fresh()
    store.deleteRange("absent", "n", 0L, 100L) // missing table
    store.appendRange("t", (0L until 5L).toDF("n"), "n", 0L, 4L)
    store.deleteRange("t", "n", 50L, 90L) // empty overlap
    assert(rows(store, "t") == (0L to 4L))
  }

  test("readRange prunes to the requested bucket span") {
    val store = fresh()
    tens(store, "t", 10)
    val got = store.readRange("t", "n", 35L, 44L, null)
    assert(got.select("n").collect().map(_.getLong(0)).sorted.toSeq == (35L to 44L))
    // pruned at PATH level: only the dirs whose bounds intersect the range
    // are ever listed
    val in = Seq((30L, 39L), (40L, 49L)).map(liveDirs(store, "t"))
    assert(got.inputFiles.nonEmpty &&
      got.inputFiles.forall(f => in.exists(d => f.contains(s"/$d/"))))
  }

  test("after 100 per-block appends a one-block read opens only that block's dir") {
    val store = fresh()
    (0L until 100L).foreach(n => store.appendRange("t", Seq(n).toDF("n"), "n", n, n))
    Seq(40L, 90L, 99L).foreach { n =>
      val got = store.readRange("t", "n", n, n, null)
      assert(got.select("n").collect().map(_.getLong(0)).toSeq == Seq(n))
      val own = liveDirs(store, "t")((n, n))
      assert(got.inputFiles.nonEmpty && got.inputFiles.forall(_.contains(s"/$own/")),
        s"block $n read ${got.inputFiles.mkString(", ")}")
    }
  }

  test("a range append fails loudly on a row outside its declared span") {
    val store = fresh()
    store.appendRange("t", Seq(1L).toDF("n"), "n", 0L, 9L)
    val ex = intercept[Exception](store.appendRange("t", Seq(5L, 12L).toDF("n"), "n", 0L, 9L))
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("outside the appended span")))
    assert(rows(store, "t") == Seq(1L), "a failed append commits nothing")
  }

  test("the happy-path bracket and a 2-block retraction run no job and write no dir") {
    // "a" holds 200 per-block dirs, merged tiers included; "b" a few
    val store = fresh()
    val tables = Seq("a", "b")
    (0L until 200L).foreach(n => store.appendRange("a", Seq(n, n).toDF("n"), "n", n, n))
    (190L until 200L).foreach(n => store.appendRange("b", Seq(n, n).toDF("n"), "n", n, n))
    def gen(t: String) = Files.readString(Paths.get(store.root, t, ".gen"))
    val gens = tables.map(gen)
    // the next span has no rows yet: nothing to drop, nothing to commit
    val (_, happy) = graft.Profile.measure(spark)(_ =>
      store.deleteRangeAll(tables.map(_ -> "n"), 200L, 200L))
    assert(happy.jobs.get == 0L, s"happy-path bracket ran ${happy.jobs.get} jobs")
    assert(tables.map(gen) == gens, "happy-path bracket committed")
    val before = tables.map(dataDirs(store, _))
    val (_, reorg) = graft.Profile.measure(spark)(_ =>
      store.deleteRangeAll(tables.map(_ -> "n"), 198L, 199L))
    assert(reorg.jobs.get == 0L, s"2-block retraction ran ${reorg.jobs.get} jobs")
    tables.zip(before).foreach { case (t, b) =>
      assert(dataDirs(store, t).subsetOf(b), s"$t: a retraction of per-block dirs wrote a dir")
      val from = if (t == "a") 0L else 190L
      assert(rows(store, t) == (from to 197L).flatMap(n => Seq(n, n)))
    }
  }

  /** Appends one row per value of each span in `appends` to a fresh
    * table, checking after every append that at most `maxDirs` dirs are
    * live and that the newest 64 are appended ones, never merged. Returns
    * the rows compaction rewrote.
    */
  private def compactOver(appends: Seq[(Long, Long)], maxDirs: Int): Long = {
    val store = fresh()
    var own = Set.empty[(Long, Long)]  // the appended spans
    var seen = Set.empty[(Long, Long)] // every dir ever live
    var rewritten = 0L
    appends.zipWithIndex.foreach { case ((lo, hi), i) =>
      store.appendRange("t", (lo to hi).toDF("n"), "n", lo, hi)
      own += ((lo, hi))
      val dirs = spans(store, "t")
      assert(dirs.size <= maxDirs, s"${dirs.size} live dirs after append $i")
      assert(dirs.takeRight(64).forall(own), s"a newest-64 dir was merged after append $i")
      rewritten += dirs.filterNot(d => seen(d) || own(d)).map { case (l, h) => h - l + 1 }.sum
      seen ++= dirs
    }
    assert(rows(store, "t") == appends.flatMap { case (lo, hi) => lo to hi })
    rewritten
  }

  test("tiered compaction keeps dirs bounded over per-block heads and catch-up chunks") {
    // per-block appends: live dirs stay under 64 + 8 per level (4 levels
    // below 8^4 blocks), and each row is rewritten at most once per closed
    // level (3 times below 8^4 blocks)
    val n = 1000L
    val perBlock = compactOver((0L until n).map(b => (b, b)), 64 + 8 * 4)
    assert(perBlock > 0 && perBlock <= 3 * n, s"rows rewritten: $perBlock of $n")
    // every 4th append a 9-block catch-up chunk, as after a stalled node:
    // no 8 adjacent dirs share one span, but each closed aligned block
    // merges whatever its dirs' spans. At most 7 closed blocks per level,
    // each left with under 8 dirs once its merges land, 4 levels: under
    // 64 + 4 * 7 * 8 live dirs (merging only runs of one span would leave
    // all 400 dirs live)
    val chunks = (0 until 400).scanLeft((0L, -1L)) { case ((_, prev), i) =>
      (prev + 1, prev + 1 + (if (i % 4 == 3) 8L else 0L))
    }.tail
    val values = chunks.last._2 + 1
    val chunked = compactOver(chunks, 64 + 4 * 7 * 8)
    assert(chunked > 0 && chunked <= 3 * values, s"rows rewritten: $chunked of $values")
  }

  test("runs of fat dirs still merge, each merged file under maxPartitionBytes") {
    // 1 KB incompressible payload per block against a 16 KB cap: a run of 8
    // single-block dirs (~2 KB each, footer included) just overflows the
    // cap, and a run of 8 merged ones (~65 KB) overflows it by far. Each
    // must still merge, split into files under the cap, or such dirs would
    // stay live for good and the dirs would grow with the table's bytes
    val store = fresh()
    val cap = 16L * 1024
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, cap.toString)
    val rnd = new scala.util.Random(7)
    val n = 300L
    try (0L until n).foreach { b =>
      store.appendRange("t", Seq((b, rnd.alphanumeric.take(1000).mkString)).toDF("n", "pay"),
        "n", b, b)
      // three levels below 8^3 blocks
      assert(store.rangeDirs("t").size <= 64 + 8 * 3, s"live dirs after block $b")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val tdir = Paths.get(store.root, "t")
    def files(rel: String) = Files.list(tdir.resolve(rel)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    val merged = liveDirs(store, "t").filter { case ((lo, hi), _) => lo < hi }
    assert(merged.keys.exists { case (lo, hi) => hi - lo + 1 >= 64 }, "no fat run merged")
    assert(merged.values.exists(files(_).size > 1), "no fat run was split into files")
    merged.foreach { case (span, rel) => files(rel).foreach { f =>
      assert(Files.size(f) <= cap, s"merged dir $span: ${f.getFileName} holds ${Files.size(f)} bytes")
    }}
    assert(rows(store, "t") == (0L until n))
  }

  test("a retraction that finds no row in a straddled dir keeps the dir") {
    // one dir declared [0, 9] holding rows 0..4 and 8, as a merged balance
    // dir spans the blocks that had no rows
    val store = fresh()
    store.appendRange("t", ((0L to 4L) :+ 8L).toDF("n"), "n", 0L, 9L)
    val rel = liveDirs(store, "t")((0L, 9L))
    def gen = Files.readString(Paths.get(store.root, "t", ".gen"))
    val g0 = gen
    store.deleteRange("t", "n", 5L, 7L) // inside the dir, on its gap
    assert(gen == g0, "a clean straddle with unchanged bounds committed")
    assert(liveDirs(store, "t") == Map((0L, 9L) -> rel))
    store.deleteRange("t", "n", 9L, 12L) // its clean upper edge: bounds narrow
    assert(liveDirs(store, "t") == Map((0L, 8L) -> rel))
    store.deleteRange("t", "n", 8L, 8L) // a row in range: rewritten
    assert(spans(store, "t") == Seq((0L, 7L)) && liveDirs(store, "t")((0L, 7L)) != rel)
    assert(rows(store, "t") == (0L to 4L))
  }

  test("a plain append or replace of no rows leaves the table absent") {
    val store = fresh()
    store.append("a", Seq.empty[Long].toDF("n"))
    assert(!store.exists("a"))
    store.replace("r", Seq(1L).toDF("n"))
    store.replace("r", Seq(1L).toDF("n").filter($"n" > 5L))
    assert(!store.exists("r"))
    assert(store.readOr("r", null).count() == 0L, "the schema sidecar still types the table")
    store.append("a", Seq(2L).toDF("n"))
    assert(store.exists("a") && rows(store, "a") == Seq(2L))
  }

  test("retainFrom over an 8-partition table leaves one file per key and the same rows") {
    // eight appends of growing size: the prune's scan packs files by size,
    // so each key's eight files land in several scan partitions
    val store = fresh()
    val in = (1 to 8).flatMap(i => (0L until 100L * i).map(n => (n, (n % 20).toInt)))
    (1 to 8).foreach(i => store.appendPartitioned("p",
      (0L until 100L * i).map(n => (n, (n % 20).toInt)).toDF("n", "shard"), "shard"))
    assert(store.fileCounts("p").values.toSet == Set(8L))
    store.replaceAll(Seq("p" -> store.readOr("p", null).filter(col("n") >= 100L)),
      partitionBy = Map("p" -> "shard"))
    val counts = store.fileCounts("p")
    assert(counts.keySet == (0 until 20).map(s => s"shard=$s").toSet)
    assert(counts.values.toSet == Set(1L), s"one file per key after the prune: $counts")
    val got = store.readOr("p", null).select("n", "shard").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got.sorted == in.filter(_._1 >= 100L).sorted)
  }

  test("a manifest in the bucket layout fails loudly, naming the table") {
    val store = fresh()
    store.append("t", Seq(1L).toDF("n"))
    val tdir = Paths.get(store.root, "t")
    val v = Files.readString(tdir.resolve(".gen")).trim.split("\\s+")(0)
    val man = tdir.resolve(s".manifest.$v")
    Files.writeString(man, Files.readString(man).replace("\t.d-", "bucket=0\t.d-"))
    Files.deleteIfExists(tdir.resolve(s"..manifest.$v.crc"))
    val ex = intercept[IllegalStateException](TableStore(spark, store.root).exists("t"))
    assert(ex.getMessage.contains("'t'") && ex.getMessage.contains("bucket"))
  }

  test("exists requires a data file: empty appends and hidden leftovers don't count") {
    val store = fresh()
    // an append of an EMPTY DataFrame writes only _SUCCESS — the table must
    // still read as absent or spark.read.parquet dies on schema inference
    store.appendRange("e", Seq.empty[Long].toDF("n"), "n", 0L, 0L)
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
    store.appendRange("l", Seq(1L).toDF("n"), "n", 1L, 1L)
    assert(store.exists("l"))
    assert(rows(store, "l") == Seq(1L))
  }

  test("append after a range delete lands in fresh bucket files") {
    val store = fresh()
    store.appendRange("t", (0L until 20L).toDF("n"), "n", 0L, 19L)
    store.deleteRange("t", "n", 10L, 19L) // straddles the one dir: rewritten as [0, 9]
    store.appendRange("t", (10L until 20L).map(n => n + 1000).toDF("n"), "n", 1010L, 1019L)
    assert(rows(store, "t") == ((0L to 9L) ++ (1010L to 1019L)))
    assert(spans(store, "t") == Seq((0L, 9L), (1010L, 1019L)))
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
    store.appendRange("b", Seq(1L).toDF("n"), "n", 1L, 1L)
    unchanged("b")(store.appendRange("b", Seq(12L).toDF("n"), "n", 12L, 12L))
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
      "file://" + Files.createTempDirectory("graft-ts-uri").toString)
    tens(store, "t", 4)
    store.deleteRange("t", "n", 5L, 24L) // dirs [0, 9]/[20, 29] straddle, [10, 19] inside
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
        case 0 => // five fresh rows in their own dir
          committed.add(("b", n + 5))
          store.appendRange("b", (lo until lo + 5).toDF("n"), "n", lo, lo + 4)
          n += 5
        case 1 => // retract three of them: a straddling dir's rewrite
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
