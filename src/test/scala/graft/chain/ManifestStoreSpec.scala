package graft.chain

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The store's rename-free commit protocol: data lands in immutable
  * hidden dirs, an immutable per-version manifest lists the live ones,
  * and the commit point is one overwrite of the tiny `.gen` marker. These
  * tests pin its crash windows — no directory is ever renamed, so every
  * interrupted mutation must leave the previous generation fully readable
  * and converge on the next commit.
  */
class ManifestStoreSpec extends SparkSpec {
  import spark.implicits._

  // retain = 0 (immediate GC) for the legacy crash-window pins below, so
  // they keep asserting the MINIMAL-garbage contract; the deployment
  // default (retain = 2 reader-grace generations) is covered by the
  // dedicated grace test
  private def fresh(retain: Int = 0): TableStore =
    TableStore(spark, Files.createTempDirectory("graft-man").toString, manifestRetain = retain)

  /** Version token of the marker — since the writer fence the marker
    * carries "version epoch writerId", and readers take the first token.
    */
  private def genVersion(p: java.nio.file.Path): Long =
    Files.readString(p).trim.split("\\s+")(0).toLong

  private def rows(store: TableStore, table: String): Seq[Long] =
    store.readOr(table, null).select("n").collect().map(_.getLong(0)).sorted.toSeq

  private def ls(store: TableStore, table: String): Seq[String] =
    Files.list(Paths.get(store.root, table)).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted

  /** The current manifest's entries as (key, rel dir, bounds) rows. */
  private def entries(store: TableStore, table: String): Seq[Array[String]] = {
    val tdir = Paths.get(store.root, table)
    Files.readString(tdir.resolve(s".manifest.${genVersion(tdir.resolve(".gen"))}"))
      .linesIterator.filter(l => l.nonEmpty && l != "#end").map(_.split('\t')).toSeq
  }

  test("bucketed append / range delete / range read semantics match rename mode") {
    val store = fresh()
    (0L until 10L).foreach(i =>
      store.appendRange("t", (10 * i until 10 * i + 10).toDF("n"), "n", 10 * i, 10 * i + 9))
    store.deleteRange("t", "n", 15L, 74L)
    assert(rows(store, "t") == ((0L to 14L) ++ (75L to 99L)))
    val got = store.readRange("t", "n", 5L, 9L, null)
    assert(got.select("n").collect().map(_.getLong(0)).sorted.toSeq == (5L to 9L))
    // append after delete composes
    store.appendRange("t", Seq(1000L).toDF("n"), "n", 1000L, 1000L)
    assert(rows(store, "t") == ((0L to 14L) ++ (75L to 99L) :+ 1000L))
    // every manifest line carries its dir's bounds, and the dirs the
    // delete dropped or replaced were GC'd: the data dirs on disk are
    // exactly the live ones
    val live = entries(store, "t")
    assert(live.map(e => (e(2).toLong, e(3).toLong)).sorted == Seq((0L, 9L), (10L, 14L),
      (75L, 79L), (80L, 89L), (90L, 99L), (1000L, 1000L)))
    assert(ls(store, "t").filter(_.startsWith(".d-")).toSet == live.map(_(1)).toSet,
      "retracted dirs must be GC'd")
  }

  test("a crash between a merge's stage and its commit leaves the pre-merge rows") {
    // 72 per-block dirs: the 73rd append finds 8 dirs outside the newest
    // 64 and stages their merge before its own write, which then fails on
    // a row outside its span — the crash window between stage and commit
    val store = fresh()
    (0L until 72L).foreach(n => store.appendRange("t", Seq(n).toDF("n"), "n", n, n))
    val before = ls(store, "t").filter(_.startsWith(".d-")).toSet
    intercept[Exception](store.appendRange("t", Seq(72L, 500L).toDF("n"), "n", 72L, 72L))
    val orphans = ls(store, "t").filter(_.startsWith(".d-")).toSet -- before
    assert(orphans.exists(d => Files.walk(Paths.get(store.root, "t", d)).iterator().asScala
      .exists(_.getFileName.toString.endsWith(".parquet"))), s"no merged dir staged: $orphans")
    // a fresh store (as after a restart) reads the pre-merge generation
    val reader = TableStore(spark, store.root, manifestRetain = 0)
    assert(rows(reader, "t") == (0L until 72L))
    assert(reader.rangeDirs("t").map(d => (d._1, d._2)) == (0L until 72L).map(n => (n, n)))
    // its next commit merges anew and collects the orphans
    reader.appendRange("t", Seq(72L).toDF("n"), "n", 72L, 72L)
    assert(rows(reader, "t") == (0L to 72L))
    assert(reader.rangeDirs("t").map(d => (d._1, d._2)).head == ((0L, 7L)))
    val onDisk = ls(reader, "t").filter(_.startsWith(".d-")).toSet
    assert(onDisk.intersect(orphans).isEmpty, s"orphans survived the commit: $orphans")
    assert(onDisk == entries(reader, "t").map(_(1)).toSet)
  }

  test("a crash between stage and promote leaves the old generation live; replay converges") {
    val store = fresh()
    store.replace("t", Seq(1L, 2L).toDF("n"))
    // stage the replacement but "crash" before the promote (marker flip)
    val (stage, _) = store.stageReplaceAll(Seq("t" -> Seq(9L).toDF("n")))
    stage.foreach(_.apply())
    // a reader (fresh store instance = fresh caches, as after a restart)
    // still sees the OLD generation — the staged dir is invisible
    val reader = TableStore(spark, store.root, manifestRetain = 0)
    assert(rows(reader, "t") == Seq(1L, 2L), "uncommitted stage must stay invisible")
    // the recovery replay re-stages and promotes; the orphan dir is GC'd
    reader.replace("t", Seq(7L, 8L).toDF("n"))
    assert(rows(reader, "t") == Seq(7L, 8L))
    val dataDirs = ls(reader, "t").filter(_.startsWith(".d-"))
    assert(dataDirs.length == 1, s"orphan staging dirs must be GC'd, saw: $dataDirs")
  }

  test("a crash between the manifest write and the marker flip rolls forward") {
    val store = fresh()
    store.replace("t", Seq(1L).toDF("n"))
    store.replace("t", Seq(2L).toDF("n"))
    // simulate the crash: hand-rewind the marker to the previous version
    // (equivalent to dying after .manifest.2 landed but before .gen did)
    val gen = Paths.get(store.root, "t", ".gen")
    assert(genVersion(gen) == 2L)
    Files.writeString(gen, "1")
    // the out-of-band rewind invalidates Hadoop LocalFileSystem's crc
    // sidecar — drop it (object stores have no such sidecar)
    Files.deleteIfExists(Paths.get(store.root, "t", "..gen.crc"))
    // version 1's manifest was GC'd at commit 2; readers must NOT
    // resurrect generation 1 — they probe .manifest.2 and roll forward
    val reader = TableStore(spark, store.root)
    assert(rows(reader, "t") == Seq(2L),
      "reader must roll forward over a crashed marker write")
    // and the next commit heals the marker
    reader.append("t", Seq(3L).toDF("n"))
    assert(genVersion(gen) == 3L)
    assert(rows(reader, "t") == Seq(2L, 3L))
  }

  test("torn small-file writes never lose or wedge a generation") {
    // manifest mode must survive NON-atomic small writes (local/HDFS):
    // a manifest is valid only when its #end terminator landed, so a
    // crash mid-write — truncated entries or truncated to empty — is
    // never rolled forward onto, and a torn marker recovers via the
    // highest VALID manifest listing
    val store = fresh()
    store.replace("t", Seq(1L).toDF("n"))
    store.replace("t", Seq(2L).toDF("n")) // committed generation 2
    val tdir = Paths.get(store.root, "t")
    // torn NEXT manifest (crash mid-write, marker untouched): truncated
    // entry line, no terminator
    Files.writeString(tdir.resolve(".manifest.3"), "\t.d-absent-dir\n\u0000trunc")
    val r1 = TableStore(spark, store.root)
    assert(rows(r1, "t") == Seq(2L), "torn successor manifest must not roll forward")
    // torn manifest truncated to EMPTY is equally invalid
    Files.writeString(tdir.resolve(".manifest.3"), "")
    val r2 = TableStore(spark, store.root)
    assert(rows(r2, "t") == Seq(2L), "empty torn manifest must not read as absent")
    Files.delete(tdir.resolve(".manifest.3"))
    // torn MARKER (crash mid-overwrite): unparsable content falls back to
    // the highest valid manifest on disk
    Files.writeString(tdir.resolve(".gen"), "")
    Files.deleteIfExists(tdir.resolve("..gen.crc"))
    val r3 = TableStore(spark, store.root)
    assert(rows(r3, "t") == Seq(2L), "torn marker must recover from the manifest listing")
    // and the next commit heals everything
    r3.append("t", Seq(3L).toDF("n"))
    assert(genVersion(tdir.resolve(".gen")) == 3L)
    assert(rows(r3, "t") == Seq(2L, 3L))
  }

  test("category partitions rebuild their typed column and compact by manifest swap") {
    val store = fresh()
    // 48 keys × 5 appends = 240 physical dirs: past Spark's 32-path
    // threshold, so the one relation lists them in a parallel job, whose
    // returned paths the partition paths must match exactly
    val expected = for (i <- 1 to 5; s <- 0 until 48) yield (i * 100L + s, s)
    (1 to 5).foreach { i =>
      store.appendPartitioned("p", expected.filter(_._1 / 100 == i).toDF("n", "shard"), "shard")
    }
    def got(): Set[(Long, Int)] = store.readOr("p", null).select("n", "shard").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val df = store.readOr("p", null)
    assert(df.columns.toSeq == Seq("n", "shard"), "columns come back in sidecar order")
    assert(df.schema("shard").dataType == org.apache.spark.sql.types.IntegerType,
      "partition column must come back with its sidecar type")
    assert(got() == expected.toSet)
    assert(store.compactPartitions("p", "shard", maxFiles = 1) == 48)
    assert(store.fileCounts("p").values.toSet == Set(1L))
    assert(got() == expected.toSet)
  }

  test("compaction rewrites every fat key in one staged dir and one commit") {
    val store = fresh()
    // 3 appends over 40 keys put every key at 3 files, past maxFiles = 2
    // in the same call, as a batch touching every hash prefix does
    val expected = for (i <- 1 to 3; s <- 0 until 40) yield (i * 100L + s, s)
    (1 to 3).foreach { i =>
      store.appendPartitioned("p", expected.filter(_._1 / 100 == i).toDF("n", "shard"), "shard")
    }
    def got(): Set[(Long, Int)] = store.readOr("p", null).select("n", "shard").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    def entries(): Seq[(String, String)] =
      this.entries(store, "p").map { case Array(k, d) => (k, d) }
    val before = entries().map(_._2.takeWhile(_ != '/')).toSet
    assert(store.fileCounts("p").values.toSet == Set(3L))
    assert(store.compactPartitions("p", "shard", maxFiles = 2) == 40)
    val after = entries()
    assert(after.map(_._1).toSet == (0 until 40).map(s => s"shard=$s").toSet)
    assert(after.size == 40, "one dir per key after compaction")
    val tops = after.map(_._2.takeWhile(_ != '/')).toSet
    assert(tops.size == 1 && tops.head.startsWith(".d-") && !before.contains(tops.head),
      s"every key must lie under one new staged dir, saw $tops")
    assert(after.forall { case (k, d) => d == s"${tops.head}/$k" })
    assert(store.fileCounts("p").values.toSet == Set(1L), "one file per key")
    assert(got() == expected.toSet)
  }

  test("empty appends stay absent but typed; replace-from-self reads old files") {
    val store = fresh()
    store.appendRange("e", Seq.empty[Long].toDF("n"), "n", 0L, 0L)
    assert(!store.exists("e"))
    assert(store.read("e", null).schema.fieldNames.sameElements(Array("n")))
    store.replace("s", Seq((1L, "a"), (2L, "b")).toDF("n", "v"))
    store.replace("s", store.readOr("s", null).filter(col("n") === 2L))
    assert(store.readOr("s", null).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("reader grace: a reader that resolved gen N reads N's dirs across the retain window") {
    // the obvious two-cluster deployment: one ingest writer, N query
    // readers off the same object-store root. A reader resolves the
    // current generation via the public layout (.gen marker + manifest)
    // and scans its dirs; the writer's subsequent commits must not
    // delete those dirs until `manifestRetain` further generations have
    // landed — the MVCC grace the reference gets from MySQL transactions
    // (store/sqldb/db.go:63-91), priced as ≤retain stale generations.
    val store = fresh(retain = 2) // the deployment default
    store.replace("t", Seq(1L, 2L).toDF("n")) // generation 1
    val tdir = Paths.get(store.root, "t")
    // EXTERNAL reader: resolves gen N from the marker, lists N's dirs
    val n = genVersion(tdir.resolve(".gen"))
    val dirs = Files.readString(tdir.resolve(s".manifest.$n")).linesIterator
      .filter(l => l.nonEmpty && l != "#end").map(_.split('\t')(1)).toSeq
    assert(dirs.nonEmpty)
    // writer commits N+1 and N+2 while the reader is mid-scan
    store.replace("t", Seq(3L).toDF("n"))
    store.replace("t", Seq(4L).toDF("n"))
    // every dir the reader resolved is still present and fully scannable
    dirs.foreach(d => assert(Files.exists(tdir.resolve(d.split('/')(0))),
      s"gen $n dir $d was GC'd inside the grace window"))
    val seen = spark.read
      .parquet(dirs.map(d => tdir.resolve(d).toString): _*)
      .select("n").collect().map(_.getLong(0)).sorted.toSeq
    assert(seen == Seq(1L, 2L), "the reader's resolved snapshot must stay readable")
    // one more commit pushes gen N out of the window: its garbage collects
    store.replace("t", Seq(5L).toDF("n")) // generations {2,3,4} retained
    assert(dirs.forall(d => !Files.exists(tdir.resolve(d.split('/')(0)))),
      "beyond the grace window the stale generation must be GC'd (bounded garbage)")
    val manifests = ls(store, "t").count(_.startsWith(".manifest."))
    assert(manifests <= 3, s"≤ retain stale manifests may remain, saw $manifests")
  }

  test("writer fence: a second writer supersedes the first, which dies loudly") {
    // the most common operational accident: a misconfigured SECOND ingest
    // job pointed at the same object-store root. Without the fence the two
    // writers interleave .gen overwrites and silently lose generations;
    // with it the superseded writer crashes on its next commit and the
    // table serves exactly the winner's generation.
    val a = fresh()
    a.replace("t", Seq(1L, 2L).toDF("n")) // a claims epoch 1
    val b = TableStore(spark, a.root, manifestRetain = 0)
    b.replace("t", Seq(9L).toDF("n")) // b observes epoch 1, claims 2
    assert(rows(b, "t") == Seq(9L))
    // a's next commit observes b's newer epoch and must refuse — BEFORE
    // writing a manifest or marker, so nothing of b's generation is lost
    val ex = intercept[TableStore.WriterSupersededException] {
      a.replace("t", Seq(7L).toDF("n"))
    }
    assert(ex.getMessage.contains("fenced"))
    // the table still serves b's generation to a fresh reader
    val reader = TableStore(spark, a.root)
    assert(rows(reader, "t") == Seq(9L), "the winner's generation must survive")
    // b keeps committing unharmed
    b.append("t", Seq(10L).toDF("n"))
    assert(rows(b, "t") == Seq(9L, 10L))
    // and a restart of the dead writer (a NEW instance) claims epoch 3
    // and supersedes back — latest writer wins, always loudly
    val a2 = TableStore(spark, a.root, manifestRetain = 0)
    a2.replace("t", Seq(42L).toDF("n"))
    assert(rows(a2, "t") == Seq(42L))
    intercept[TableStore.WriterSupersededException] {
      b.append("t", Seq(11L).toDF("n"))
    }
  }

  test("no rename is ever issued: physical dirs are immutable once committed") {
    val store = fresh()
    store.appendRange("t", (0L until 30L).toDF("n"), "n", 0L, 29L)
    val before = ls(store, "t").filter(_.startsWith(".d-")).toSet
    store.deleteRange("t", "n", 3L, 7L) // the one dir straddles: rewritten
    val after = ls(store, "t").filter(_.startsWith(".d-")).toSet
    // the rewrite created a NEW dir and the original, no longer
    // referenced, was GC'd whole — nothing was renamed
    assert(after.size == 1 && before.size == 1)
    assert(after != before, "a straddle rewrite must land in a fresh immutable dir")
    assert(rows(store, "t") == ((0L to 2L) ++ (8L to 29L)))
  }
}
