package graft.chain

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bucketed-layout invariants of the table store: range deletes touch only
  * overlapping buckets, edge buckets rewrite, covered buckets drop as
  * directory deletes.
  */
class TableStoreSpec extends SparkSpec {
  import spark.implicits._

  // honors GRAFT_STORE_MANIFEST=1, so the whole suite re-runs against the
  // object-store (manifest) commit path; layout assertions that are
  // rename-mode-specific guard on store.manifestCommit
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
    // fully-covered bucket dirs are gone (no rewrite), edge buckets remain
    assert(!Files.exists(Paths.get(store.root, "t", "bucket=3")))
    if (!store.manifestCommit) {
      assert(Files.exists(Paths.get(store.root, "t", "bucket=1")))
      assert(Files.exists(Paths.get(store.root, "t", "bucket=7")))
    }
  }

  test("deleteRange aligned exactly on bucket boundaries") {
    val store = fresh()
    store.appendBucketed("t", (0L until 40L).toDF("n"), "n")
    store.deleteRange("t", "n", 10L, 29L) // buckets 1-2 exactly
    assert(rows(store, "t") == ((0L to 9L) ++ (30L to 39L)))
    assert(!Files.exists(Paths.get(store.root, "t", "bucket=1")))
    assert(!Files.exists(Paths.get(store.root, "t", "bucket=2")))
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
    if (store.manifestCommit) {
      // manifest mode prunes at PATH level: only the in-range bucket
      // keys' physical dirs are ever listed
      assert(got.inputFiles.nonEmpty &&
        got.inputFiles.forall(f => f.contains("/bucket=3/") || f.contains("/bucket=4/")))
    } else {
      // the physical scan carries a partition filter on bucket
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") || plan.contains("bucket"))
    }
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

    // hidden swap leftovers (.bucket=N_old) alone must not count either
    val leftover = Paths.get(store.root, "l", ".bucket=0_old")
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

  test("a crash between the promote renames converges on the next replace") {
    // promote order: park target as .t_old, rename .t_tmp into place,
    // drop .t_old. A crash between the renames leaves: no target dir,
    // a fully-staged .t_tmp, a parked .t_old. The table must read as
    // ABSENT (both siblings are hidden), and the next replace must
    // converge from scratch - staging starts with a tmp delete, and the
    // old-parking starts with an old delete, so neither leftover wedges.
    import spark.implicits._
    val store = fresh()
    assume(!store.manifestCommit,
      "rename-promote crash windows don't exist in manifest mode (see ManifestStoreSpec)")
    store.replace("t", Seq(1L).toDF("n"))
    val root = Paths.get(store.root)
    // simulate the crash state by hand: park target, leave tmp staged
    Files.move(root.resolve("t"), root.resolve(".t_old"))
    Files.createDirectories(root.resolve(".t_tmp"))
    Files.writeString(root.resolve(".t_tmp").resolve("part-junk.parquet"), "stale")
    assert(!store.exists("t"), "mid-promote state must read as absent")
    store.replace("t", Seq(2L).toDF("n"))
    assert(rows(store, "t") == Seq(2L))
    assert(!Files.exists(root.resolve(".t_old")), "parked dir must be cleared")
    assert(!Files.exists(root.resolve(".t_tmp")), "stale staging must be cleared")
  }

  test("the schema sidecar is rewritten only when the schema changes") {
    Seq(false, true).foreach { manifest =>
      val store = TableStore(spark, Files.createTempDirectory("graft-ts-schema").toString,
        bucketSize = 10L, manifestCommit = manifest)
      def sidecar(t: String) = Paths.get(store.root, t, ".schema.json")
      def stamp(t: String) = (Files.readString(sidecar(t)), Files.getLastModifiedTime(sidecar(t)))
      def unchanged(t: String)(write: => Unit): Unit = {
        val before = stamp(t)
        Thread.sleep(20) // past the FS timestamp granularity: a rewrite must show
        write
        assert(stamp(t) == before, s"manifest=$manifest: $t sidecar rewritten")
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
    // swap-based whole-table replace (tmp + _old rename promote)
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
}
