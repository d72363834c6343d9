package graft.chain

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path}
import org.apache.hadoop.hdfs.DistributedFileSystem
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Transactional-enough table store over parquet directories.
  *
  * All path operations go through the Hadoop `FileSystem` API resolved
  * from `root`'s scheme — `root` may be a local path, `file://`,
  * `hdfs://`, or any other filesystem Spark's Hadoop configuration knows
  * (`s3a://`, `abfs://`, …). A store "designed for 100 TB" whose listings
  * and swaps ran through `java.nio.file` could never point at a cluster
  * filesystem; this one can.
  *
  * ONE COMMIT PROTOCOL, rename-free, so it holds where rename is
  * copy+delete (object stores) as well as on local/HDFS. On disk, per
  * table (every name hidden, so no Spark listing of the table dir sees
  * anything):
  *   - `.d-<uuid>[/<key>=<v>]` — immutable physical data dirs (parquet
  *     part files), written once by a staged write and never renamed;
  *   - `.manifest.N` — immutable: one `<logicalKey>\t<relDir>` line per
  *     live physical dir (plus `\t<lo>\t<hi>` for a bounded dir),
  *     closed by an `#end` line;
  *   - `.gen` — the generation marker "version epoch writerId", THE
  *     commit point;
  *   - `.schema.json` — the table's logical schema.
  * A commit writes `.manifest.(N+1)` and overwrites the marker (a
  * single-object PUT — atomic on S3-class stores); readers resolve the
  * current generation via that single marker read and roll forward over
  * a crashed marker write by probing for the next manifest version.
  * Every crash window leaves only unreferenced staging dirs,
  * garbage-collected on the next commit. GC retains a
  * `manifestRetain`-generation reader-grace window, so EXTERNAL READER
  * PROCESSES off the same root are safe (an ingest-writer +
  * query-readers deployment). Single-WRITER is still the contract, and
  * it is ENFORCED by a writer-epoch fence in the marker: each store
  * instance claims epoch = (observed + 1) at its first commit to a
  * table, every commit re-reads the marker first and FAILS LOUDLY
  * ([[TableStore.WriterSupersededException]]) when a newer epoch (or a
  * same-epoch foreign writer id, via post-write read-back) is observed —
  * so a misconfigured second ingest job crashes instead of silently
  * interleaving generations (the reference's duplicate-key-as-benign-
  * concurrency-signal discipline, common/errors.go:48-57,
  * service/indexer/indexer.go:151-163, translated to object stores:
  * latest writer wins, superseded writers die). The residual window —
  * two writers claiming the same epoch and committing within one
  * read-back round-trip — needs a conditional PUT (Delta/Iceberg log) to
  * close; every longer interleaving is detected.
  *
  * A table dir that holds visible parquet files but no manifest was
  * written by the directory-rename layout this store used before; every
  * access to it throws instead of reading the table as absent (an absent
  * chain table would restart ingest from scratch beside the old rows).
  *
  * A RANGE table (everything keyed by block number or batch id) is a
  * flat list of immutable dirs, and each dir's manifest line carries the
  * range column's bounds over it (`<key>\t<relDir>\t<lo>\t<hi>`): the
  * span the caller's append declares, checked inside its write. So
  *   - retraction (the reference's `DELETE WHERE block_number BETWEEN f AND
  *     t`, store/store.go:319-378) is decided from the manifest alone:
  *     dirs inside the range drop out, disjoint dirs stay, and only a dir
  *     that straddles it is rewritten. With per-block dirs a shallow reorg
  *     and the delete-then-append bracket's happy path run no Spark job;
  *   - bounded tip reads (`readRange`) open only the dirs whose bounds
  *     intersect the range, so no other dir is even listed;
  *   - compaction is tiered over aligned range blocks and rides on the
  *     append commit, never touching the newest dirs a reorg retracts
  *     (see [[appendRange]]).
  * Category-partitioned tables keep one `<col>=<v>` key per value, and
  * reads rebuild the column as a partition value, so an `isin` predicate
  * on it prunes to the probed keys' dirs before any file opens.
  *
  * A full production deployment may still prefer a Delta/Iceberg table
  * here — their logs add snapshot isolation for CONCURRENT writers,
  * which this single-writer store does not need; the manifest protocol
  * implements the same commit discipline at this store's scope, so
  * "runs at 100 TB" does not presume a rename-atomic filesystem.
  * Idempotency (T6) comes from the admission fold in ChainIngest,
  * mirroring the reference's duplicate-key tolerance
  * (common/errors.go:48-57).
  */
final case class TableStore(spark: SparkSession, root: String,
                            manifestRetain: Int = TableStore.ManifestRetainDefault) {

  import TableStore.Dir

  private val rootPath = new Path(root)
  // one FileSystem per store, resolved from the root's scheme against the
  // session's Hadoop conf (core-site/spark.hadoop.* — where s3a keys etc.
  // live). FileSystem.get caches per (scheme, authority, ugi), so this is
  // also what every other Spark component talks to.
  private val hadoopConf = spark.sessionState.newHadoopConf()
  private val fs: FileSystem = rootPath.getFileSystem(hadoopConf)

  /** Driver-side row cache for TINY single-row state tables (head_state,
    * balance_head, ledger_block): the ingest loop consults them several
    * times per micro-batch, and each consult is otherwise a full Spark
    * job over a one-row parquet file. Any write to the table through
    * THIS store invalidates its entry, so the cache is exactly the
    * persisted value — the reference holds the same state in memory for
    * the same reason (its Listen loop's currentHeader). A table written
    * by another process is out of scope, as it is for every store
    * mutation (single-writer is the store's contract).
    */
  private val rowCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Array[org.apache.spark.sql.Row]]]()

  /** Driver-side RESOLVED-RELATION cache: building a relation lists its
    * dirs (one object-store LIST round per dir at deployment scale), and
    * the per-block ingest bracket opens the same handful of tables many
    * times per block. The store is single-writer, and every mutation path
    * ends in [[invalidate]], so a cached relation is exactly the
    * persisted file set. Only whole-table opens cache; range and per-key
    * opens are one-shot by nature.
    */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Driver-side manifest cache — same single-writer contract. */
  private val manCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Seq[Dir]]]()

  /** This store's own namespace in Spark's shared file-status cache, held
    * for the store's lifetime: every `getOrCreate` returns a fresh, empty
    * client, so one per open would re-list every dir it opens (as a
    * Spark job past the 32-path parallel-listing threshold). Committed
    * dirs are UUID-named and immutable, and a current manifest never
    * names a GC'd dir, so an entry never goes stale; every commit seeds
    * the dirs it adds (see [[seed]]), and nothing is ever invalidated.
    */
  private val statusCache = FileStatusCache.getOrCreate(spark)

  /** Drop every cached layer of `table`, in dependency order: a relation
    * is built from the manifest and a row-cache entry from the relation,
    * and `ConcurrentHashMap.remove` waits for an in-flight compute of the
    * same key, so a reader racing this writer can never re-cache a
    * layer built from a stale one.
    */
  private def invalidate(table: String): Unit = {
    manCache.remove(table)
    relCache.remove(table)
    rowCache.remove(table)
  }

  /** This store instance's identity for the writer fence — the marker
    * carries it so a same-epoch interloper is detectable by read-back.
    */
  private val writerId = java.util.UUID.randomUUID().toString

  /** Per-table claimed writer epoch: observed + 1 at this instance's
    * FIRST commit to the table, fixed thereafter. A restarted writer is a
    * new instance and claims a higher epoch, superseding its predecessor.
    */
  private val claimedEpochs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def dir(table: String): Path = new Path(rootPath, table)
  private def genPath(table: String)          = new Path(dir(table), ".gen")
  private def manPath(table: String, v: Long) = new Path(dir(table), s".manifest.$v")

  /** (version, epoch, writerId) from the marker; epoch/writerId default to
    * (0, "") for pre-fence markers that carried only the version. None on
    * an absent or torn (unparseable-version) marker.
    */
  private def readMarkerParts(table: String): Option[(Long, Long, String)] =
    readSmallFile(genPath(table)).flatMap { s =>
      val parts = s.trim.split("\\s+")
      parts.headOption.flatMap(_.toLongOption).map { v =>
        (v,
          if (parts.length > 1) parts(1).toLongOption.getOrElse(0L) else 0L,
          if (parts.length > 2) parts(2) else "")
      }
    }

  /** None when the file is absent or cannot be read whole. Reading to EOF
    * (not to a length listed first) and treating a failed read as absent
    * is what lets a reader beside the writer meet a marker mid-overwrite
    * or a manifest mid-write: each caller already treats None as torn
    * and recovers (see [[currentVersion]]).
    */
  private def readSmallFile(p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
    } catch { case _: java.io.IOException => None }

  private def writeSmallFile(p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** A manifest file is valid iff FULLY written: its last line is the
    * `#end` terminator [[commitManifest]] appends and every other line
    * parses as an entry ([[parseLine]]). Validation is what makes the
    * resolution below safe on filesystems where small writes are NOT
    * atomic (local, HDFS): a torn `.manifest.(v+1)` from a crash mid-write
    * — truncated entries, or truncated to empty — must never be rolled
    * forward onto (commit order writes it BEFORE touching the marker, so
    * the previous generation is still fully intact), and a torn marker
    * must never wedge the table.
    */
  private val ManifestEnd = "#end"

  /** THE one parser of a manifest line, `<key>\t<relDir>` or
    * `<key>\t<relDir>\t<lo>\t<hi>`; None for anything else (`#end`, a
    * torn line). Resolution and GC both read entries through it, so GC
    * can never take a range dir's bounds for part of its name.
    */
  private def parseLine(line: String): Option[(String, Dir)] = line.split('\t') match {
    case Array(k, rel) => Some(k -> Dir(rel))
    case Array(k, rel, lo, hi) =>
      for (l <- lo.toLongOption; h <- hi.toLongOption) yield k -> Dir(rel, l, h)
    case _ => None
  }

  private def manifestLines(s: String): Seq[(String, Dir)] =
    s.linesIterator.flatMap(parseLine).toSeq

  private def validManifest(p: Path): Boolean =
    readSmallFile(p).exists { s =>
      val lines = s.linesIterator.filter(_.nonEmpty).toSeq
      lines.lastOption.contains(ManifestEnd) && lines.init.forall(parseLine(_).nonEmpty)
    }

  /** Current committed version, given the marker as already read.
    * Resolution, torn-write-safe:
    *   - marker parses → start there; else (absent OR torn mid-overwrite)
    *     fall back to the highest VALID manifest on disk — at a torn
    *     marker the new manifest is fully written and its predecessors
    *     are not yet GC'd (GC runs after the marker), so the listing
    *     recovers the true commit;
    *   - then roll FORWARD while the next manifest exists AND validates:
    *     a crash between the manifest write and the marker overwrite must
    *     not resurrect the previous generation (the successor's data is
    *     fully staged by construction, and the stageReplaceAll commit
    *     order stays monotone under roll-forward — a later table's
    *     manifest exists only if every earlier table's marker landed).
    */
  private def currentVersion(table: String,
                             marker: Option[(Long, Long, String)]): Long = {
    var v = marker.map(_._1).getOrElse {
      val d = dir(table)
      if (!fs.exists(d)) 0L
      else fs.listStatus(d).flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(".manifest."))
          n.stripPrefix(".manifest.").toLongOption.filter(_ => validManifest(st.getPath))
        else None
      }.foldLeft(0L)(math.max)
    }
    while (validManifest(manPath(table, v + 1))) v += 1
    v
  }

  /** The live (logicalKey → physical dirs) map; empty when absent. A
    * `bucket=N` key is the fixed-width bucket layout of stores from before
    * ranged dirs; its dirs carry no bounds, so it is refused loudly, as
    * the rename-era layout is.
    */
  private def manEntries(table: String): Map[String, Seq[Dir]] =
    manCache.computeIfAbsent(table, t => {
      val v = currentVersion(t, readMarkerParts(t))
      if (v == 0L) { rejectLegacyLayout(t); Map.empty[String, Seq[Dir]] }
      else {
        val body = readSmallFile(manPath(t, v)).getOrElse(throw new IllegalStateException(
          s"table '$t': manifest $v was garbage-collected while being resolved"))
        val m = manifestLines(body).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        if (m.keys.exists(_.startsWith("bucket=")))
          throw new IllegalStateException(s"table '$t' at ${dir(t)} is in the bucket layout " +
            "(bucket=N manifest keys) of stores from before ranged dirs, which this store " +
            "does not read; re-ingest into a fresh dataDir")
        m
      }
    })

  /** A table dir with no manifest but a visible data file anywhere below
    * a visible path holds the directory-rename layout this store wrote
    * before the manifest protocol became its only one. Reading it as
    * absent would hide every committed row, so refuse loudly. Hidden
    * subtrees (`.d-*` staging, `_SUCCESS`) are skipped without listing.
    */
  private def rejectLegacyLayout(table: String): Unit = {
    def visibleFile(p: Path): Boolean = fs.listStatus(p).exists { st =>
      !hidden(st.getPath.getName) && (st.isFile || visibleFile(st.getPath))
    }
    if (fs.exists(dir(table)) && visibleFile(dir(table)))
      throw new IllegalStateException(
        s"table '$table' at ${dir(table)} holds parquet files but no manifest: it was " +
        "written in the directory-rename layout of stores from before the manifest " +
        "commit protocol, which this store does not read; re-ingest into a fresh dataDir")
  }

  /** Write version N+1 with `next`, flip the marker, GC. One marker
    * overwrite is the entire commit — no rename anywhere.
    *
    * GC keeps a READER-GRACE window: the newest `manifestRetain` stale
    * generations — manifest files AND every physical dir any retained
    * manifest references — survive this commit, so an external reader
    * that resolved generation G off the same root keeps reading G's dirs
    * successfully until `manifestRetain` further commits have landed
    * (the MVCC the reference gets for free from MySQL transactions,
    * store/sqldb/db.go:63-91, priced here as ≤retain stale generations
    * of garbage per table). `manifestRetain = 0` is immediate GC.
    *
    * WRITER FENCE (see the class doc): the marker is re-read at the top of
    * every commit — a newer epoch than this instance's claim, or the same
    * epoch under a foreign writer id, means another writer has taken the
    * table and THIS writer must die loudly instead of overwriting its
    * generations. After the marker lands it is read BACK and must carry
    * exactly (version, epoch, writerId) — a concurrent overwrite between
    * the write and the read-back is a detected loss, not a silent one —
    * and GC runs only after the read-back verifies, so a fenced writer
    * never deletes a winner's dirs.
    */
  private def commitManifest(table: String, next: Map[String, Seq[Dir]]): Unit = {
    val observed = readMarkerParts(table)
    val observedEpoch = observed.map(_._2).getOrElse(0L)
    val myEpoch: Long = claimedEpochs.computeIfAbsent(table, _ => observedEpoch + 1L)
    if (observedEpoch > myEpoch ||
        (observedEpoch == myEpoch && observed.exists(m => m._3.nonEmpty && m._3 != writerId)))
      throw new TableStore.WriterSupersededException(
        s"writer fenced out of table '$table': this store holds epoch $myEpoch " +
        s"(writer $writerId) but the marker carries epoch $observedEpoch" +
        observed.map(m => s" (writer ${m._3})").getOrElse("") +
        " — another writer has taken the table; refusing to commit")
    val v = currentVersion(table, observed)
    fs.mkdirs(dir(table))
    val body = (next.toSeq.sortBy(_._1).flatMap { case (k, ds) =>
      ds.sortBy(_.lo).map(d => if (d.ranged) s"$k\t${d.rel}\t${d.lo}\t${d.hi}" else s"$k\t${d.rel}")
    } :+ ManifestEnd).mkString("\n")
    writeSmallFile(manPath(table, v + 1), body)
    writeSmallFile(genPath(table), s"${v + 1} $myEpoch $writerId")
    val back = readMarkerParts(table)
    if (!back.contains((v + 1, myEpoch, writerId)))
      throw new TableStore.WriterSupersededException(
        s"writer lost a marker race on table '$table': wrote (${v + 1}, $myEpoch, " +
        s"$writerId) but read back $back — a concurrent writer overwrote the " +
        "commit point; refusing to proceed")
    // GC: manifests older than the grace window, then physical dirs no
    // REMAINING manifest references. Referenced rel-paths are either a
    // whole .d-* dir or ".d-*/<sub>" leaf dirs; an unreferenced subtree
    // of a partially-referenced staging dir (a compacted category key) is
    // deleted at the leaf level.
    val keepFrom = (v + 1) - math.max(0, manifestRetain)
    val (manifests, others) = fs.listStatus(dir(table)).toSeq
      .partition(_.getPath.getName.startsWith(".manifest."))
    val (stale, kept) = manifests.partition(
      _.getPath.getName.stripPrefix(".manifest.").toLongOption.exists(_ < keepFrom))
    stale.foreach(st => deleteRecursive(st.getPath))
    // union over every manifest still on disk: retained generations keep
    // their dirs alive; a torn manifest's parseable lines only ever
    // over-retain (never delete), which is the safe direction
    val referenced: Set[String] = kept.flatMap(st =>
      readSmallFile(st.getPath).toSeq.flatMap(manifestLines).map(_._2.rel)).toSet
    others.foreach { st =>
      val top = st.getPath.getName
      if (st.isDirectory && top.startsWith(".d-") && !referenced.contains(top)) {
        val refBelow = referenced.filter(_.startsWith(top + "/"))
        if (refBelow.isEmpty) deleteRecursive(st.getPath)
        else fs.listStatus(st.getPath).foreach { c =>
          if (c.isDirectory && !refBelow.contains(top + "/" + c.getPath.getName))
            deleteRecursive(c.getPath)
        }
      }
    }
  }

  /** Stage `df` into a fresh immutable physical dir; returns its rel name.
    * Optionally partitioned (appendPartitioned/compactPartitions staging).
    */
  private def stagePhys(table: String, df: DataFrame,
                        partitionBy: Option[String] = None): String = {
    val rel = ".d-" + java.util.UUID.randomUUID().toString
    val w   = df.write.mode(SaveMode.Overwrite)
    partitionBy.fold(w)(w.partitionBy(_)).parquet(new Path(dir(table), rel).toString)
    rel
  }

  /** The data files directly under `p`, as the statuses Spark's own
    * leaf listing returns (`HadoopFSUtils`): located statuses from one
    * `listLocatedStatus` on HDFS, block locations added per file
    * elsewhere, so a scan over a seeded dir keeps its locality.
    */
  private def dataFiles(p: Path): Array[FileStatus] = fs match {
    case _: DistributedFileSystem =>
      val it = fs.listLocatedStatus(p)
      val out = Array.newBuilder[FileStatus]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && !hidden(st.getPath.getName)) out += st
      }
      out.result()
    case _ =>
      fs.listStatus(p).filter(st => st.isFile && !hidden(st.getPath.getName)).map { f =>
        new LocatedFileStatus(f.getLen, false, f.getReplication, f.getBlockSize,
          f.getModificationTime, 0L, null, null, null, null, f.getPath,
          false, false, false, fs.getFileBlockLocations(f, 0L, f.getLen))
      }
  }

  /** List a freshly staged leaf dir once and seed [[statusCache]] with its
    * data files, so no later open or file count lists it again; returns
    * them (none seeded when there are none).
    */
  private def seed(p: Path): Array[FileStatus] = {
    val files = if (fs.exists(p)) dataFiles(p) else Array.empty[FileStatus]
    if (files.nonEmpty) statusCache.putLeafFiles(fs.makeQualified(p), files)
    files
  }

  /** Rows in `files`, summed from their parquet footers (one small read
    * each, no Spark job).
    */
  private def footerRows(files: Array[FileStatus]): Long = files.map { f =>
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, hadoopConf))
    try r.getRecordCount finally r.close()
  }.sum

  /** [[seed]] for an unpartitioned stage, which every commit path holds
    * to rows: a write of no rows still leaves task 0's empty parquet
    * file, so a lone file with no rows in its footer counts as no data
    * (a task with no rows writes no file, so two files hold rows).
    */
  private def seedRows(p: Path): Boolean = seed(p) match {
    case files @ Array(_) => footerRows(files) > 0
    case files => files.nonEmpty
  }

  /** The data files of a committed rel-dir: from [[statusCache]], or
    * listed and seeded once when this store did not write it (a dir
    * committed before a restart, or an evicted entry).
    */
  private def leafFiles(table: String, rel: String): Array[FileStatus] = {
    val p = fs.makeQualified(new Path(dir(table), rel))
    statusCache.getLeafFiles(p).getOrElse {
      val files = dataFiles(p)
      statusCache.putLeafFiles(p, files)
      files
    }
  }

  /** The `<key>=<v>` subdirs of a freshly staged partitioned write that
    * hold data files, as "<rel>/<key>=<v>" rel-dirs keyed by their
    * logical key. A subdir with no data files (and the whole stage, for
    * an empty input) is never referenced — the next commit's GC sweeps it.
    */
  private def stagedKeys(table: String, rel: String): Map[String, String] = {
    val top = new Path(dir(table), rel)
    if (!fs.exists(top)) Map.empty
    else fs.listStatus(top).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains('=') &&
        seed(st.getPath).nonEmpty)
      .map(st => st.getPath.getName -> s"$rel/${st.getPath.getName}")
      .toMap
  }

  private def unescapePartitionValue(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** File-source reads see every column as nullable, as Spark's own
    * parquet reader makes them.
    */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType  => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType    => MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
    case other         => other
  }

  /** THE one way the store opens data: any set of manifest entries as ONE
    * `HadoopFsRelation` over exactly their dirs, with the remembered
    * schema (no footer-inference job, no listing of anything else). A
    * CATEGORY table (its keys name a sidecar column) gets an explicit
    * partition spec — one partition path per live dir, its value cast
    * from the key to the sidecar type — so a predicate on the column
    * plans as a `PartitionFilters` on one scan and prunes dirs before any
    * file opens; its columns come back in sidecar order. Plain and range
    * tables carry no partition column (a range dir's bounds live in the
    * manifest, not in the data). Paths are qualified because the index
    * matches partition paths against the qualified paths its listing
    * returns — an unqualified one matches no file and silently reads
    * empty. Listings go through the store's own seeded [[statusCache]]:
    * every dir this store commits was listed once at commit and seeded
    * there, so an open lists nothing it wrote (a category table holds one
    * dir per key per append until compaction — hundreds of keys would
    * otherwise be a listing job per open), and a dir committed before this store
    * was built is listed once, at its first open. A committed dir never
    * changes, so nothing re-lists an opened relation (no
    * `refreshByPath`): a plan over generation N stays a plan over N, and
    * re-listing it after GC would read its dirs as silently empty.
    */
  private def open(table: String, entries: Map[String, Seq[Dir]]): DataFrame = {
    val schema = rememberedSchema(table).map(asNullable(_).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(s"no schema known for table '$table'"))
    val catName = entries.keys.find(_.contains('=')).map(_.takeWhile(_ != '='))
      .filter(schema.fieldNames.contains)
    val partSchema = StructType(catName.map(schema(_)).toSeq)
    val dataSchema = StructType(schema.filterNot(f => catName.contains(f.name)))
    val dirs = entries.toSeq.sortBy(_._1).flatMap { case (k, ds) =>
      ds.map(d => k -> fs.makeQualified(new Path(dir(table), d.rel)))
    }
    val spec = catName.fold(PartitionSpec.emptySpec) { name =>
      val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
      PartitionSpec(partSchema, dirs.map { case (k, p) =>
        val raw = unescapePartitionValue(k.drop(name.length + 1))
        PartitionPath(InternalRow(Cast(Literal(raw), partSchema(name).dataType, tz).eval()), p)
      })
    }
    val index = new InMemoryFileIndex(spark, dirs.map(_._2), Map.empty, Some(dataSchema),
      statusCache, Some(spec))
    val df = spark.baseRelationToDataFrame(HadoopFsRelation(index, partSchema, dataSchema,
      None, new ParquetFileFormat, Map.empty)(spark))
    if (catName.isEmpty) df else df.select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** Collected rows of a tiny state table (None when absent), cached on
    * the driver until the next write to the table through this store.
    * Only for tables whose whole content is O(1) rows by construction.
    */
  def collectSmall(table: String): Option[Array[org.apache.spark.sql.Row]] =
    rowCache.computeIfAbsent(table, t => Option(readOr(t, null)).map(_.collect()))

  /** The newest dirs of a range table that compaction never merges, so a
    * reorg up to that deep only drops dirs; also [[compactPartitions]]'
    * default per-key file threshold.
    */
  private val CompactFiles = 64

  /** Least dirs a closed block merges, and the width ratio between levels. */
  private val MergeFanIn = 8

  private def hidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  /** Data files across a logical key's physical dirs, from the cache. */
  private def physFileCount(table: String, ds: Seq[Dir]): Long =
    ds.map(d => leafFiles(table, d.rel).length.toLong).sum

  /** Live data files per logical key ("" for a plain or range table,
    * "<col>=<v>") of the current generation — the state-table file counts
    * an operator watches; empty when the table is absent. Served from the
    * seeded status cache: no listing of a dir this store committed.
    */
  def fileCounts(table: String): Map[String, Long] =
    manEntries(table).map { case (k, ds) => k -> physFileCount(table, ds) }

  /** A table exists only if it holds at least one row: only staged dirs
    * that hold rows are ever committed ([[seedRows]], [[stagedKeys]]), so
    * a non-empty manifest IS that guarantee (one marker read, no listing).
    */
  def exists(table: String): Boolean = manEntries(table).nonEmpty

  /** The `[lo, hi]` and data bytes of every live dir of a range table, in
    * range order; empty when the table is absent. From the manifest and
    * the status cache: no listing of a dir this store committed.
    */
  def rangeDirs(table: String): Seq[(Long, Long, Long)] =
    manEntries(table).values.flatten.filter(_.ranged)
      .map(d => (d.lo, d.hi, dirBytes(table, d))).toSeq.sorted

  private def dirBytes(table: String, d: Dir): Long = leafFiles(table, d.rel).map(_.getLen).sum

  /** Throws, naming the table, when a live dir of `table` records no
    * range bounds (from the manifest alone): a [[deleteRange]] bracket
    * would rewrite every such dir on every batch.
    */
  def requireRanged(table: String): Unit =
    manEntries(table).collect { case (k, ds) if ds.exists(!_.ranged) => k }.toSeq.sorted match {
      case Seq() => ()
      case keys => throw new IllegalStateException(s"table '$table' at ${dir(table)} holds " +
        s"dirs without range bounds (keys ${keys.take(3).mkString(", ")}), a layout from " +
        "before batch-ranged state, which this store does not read; re-ingest into a fresh dataDir")
    }

  // ---- schema sidecar ----------------------------------------------------
  // Every write records the table's logical schema in a hidden
  // `.schema.json`. A table whose current content is zero DATA files —
  // an append of an empty DataFrame, or a retraction that emptied it —
  // then still reads as a TYPED empty DataFrame instead of forcing every
  // caller to carry a fallback StructType, and every open is job-free.
  // The file is rewritten only when the schema changes: a reader beside
  // the writer parses it on every open, and an in-place rewrite of the
  // same bytes would hand that reader a truncated file for nothing.

  private def schemaPath(table: String): Path = new Path(dir(table), ".schema.json")

  private def rememberSchema(table: String, schema: StructType): Unit = {
    val json = schema.json
    if (!readSmallFile(schemaPath(table)).contains(json)) {
      fs.mkdirs(dir(table))
      writeSmallFile(schemaPath(table), json)
    }
  }

  private def rememberedSchema(table: String): Option[StructType] =
    readSmallFile(schemaPath(table)).map(DataType.fromJson(_).asInstanceOf[StructType])

  private def emptyOf(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def read(table: String, schema: StructType): DataFrame =
    if (exists(table)) readOr(table, null)
    else emptyOf(Option(schema).orElse(rememberedSchema(table)).getOrElse(
      throw new IllegalStateException(s"no schema known for empty table '$table'")))

  def readOr(table: String, fallback: => DataFrame): DataFrame =
    if (exists(table)) relCache.computeIfAbsent(table, t => open(t, manEntries(t)))
    else rememberedSchema(table).map(emptyOf).getOrElse(fallback)

  /** Bounded read of a range table: only the dirs whose bounds intersect
    * [from, to] are opened (no other dir is listed), and the range
    * predicate prunes row groups within them.
    */
  def readRange(table: String, rangeCol: String, from: Long, to: Long,
                schema: StructType): DataFrame =
    if (!exists(table)) read(table, schema)
    else open(table, manEntries(table).map { case (k, ds) =>
      k -> ds.filter(d => d.lo <= to && from <= d.hi)
    }).filter(col(rangeCol).between(from, to))

  /** Plain append for small non-range tables (reorg audit, head state). */
  def append(table: String, df: DataFrame): Unit = {
    val rel = stagePhys(table, df)
    rememberSchema(table, df.schema)
    if (seedRows(new Path(dir(table), rel))) {
      val m = manEntries(table)
      commitManifest(table, m.updated("", m.getOrElse("", Seq.empty) :+ Dir(rel)))
    }
    // invalidate AFTER the mutation: invalidating first leaves a window
    // where a concurrent collectSmall (Par runs store actions on pool
    // threads) re-caches the PRE-write rows and nothing ever clears them
    invalidate(table)
  }

  /** Append `df`, whose `rangeCol` values all lie in [lo, hi] (the span
    * the caller's bracket just retracted), as one ranged dir. The write
    * checks the span ([[inSpan]]): a row outside fails the append loudly
    * and commits nothing.
    *
    * Tiered compaction (O'Neil et al., 1996) rides on the commit. The
    * newest [[CompactFiles]] dirs are never merged. Below the oldest of
    * them, once an aligned block of 8^k range values (k >= 1) lies wholly
    * under it and holds the `lo` of [[MergeFanIn]] or more dirs, those
    * dirs merge, lowest level first, into one dir of ceil(bytes / the
    * session's `spark.sql.files.maxPartitionBytes`) files, staged before
    * the append (a failed append leaves only garbage for the next commit's
    * GC). Blocks go by range position, not by span or bytes, so catch-up
    * chunks between per-block heads or a sparse table's gaps cannot strand
    * dirs. A block closes once, so a row is rewritten about once per
    * level, and live dirs stay near CompactFiles + 8 per level. The cap
    * bounds each file, not the dir: a level-k merge rewrites up to 8^k
    * range values' rows on one append.
    */
  def appendRange(table: String, df: DataFrame, rangeCol: String, lo: Long, hi: Long): Unit = {
    val m = manEntries(table)
    val old = m.getOrElse("", Seq.empty)
    val merged = mergeRun(table, old)
    val rel = stagePhys(table, inSpan(table, df, rangeCol, lo, hi))
    rememberSchema(table, df.schema)
    val next = merged.fold(old) { case (in, out) => old.filterNot(in.contains) :+ out } ++
      Option.when(seedRows(new Path(dir(table), rel)))(Dir(rel, lo, hi))
    if (next != old) commitManifest(table, m.updated("", next))
    invalidate(table) // after the mutation — see append
  }

  /** `df` checked against [lo, hi] by a `raise_error` projection, no job. */
  private def inSpan(table: String, df: DataFrame, rangeCol: String,
                     lo: Long, hi: Long): DataFrame =
    df.withColumn(rangeCol,
      when(col(rangeCol).between(lo, hi), col(rangeCol)).otherwise(raise_error(concat(
        lit(s"table '$table': $rangeCol "), col(rangeCol).cast("string"),
        lit(s" lies outside the appended span [$lo, $hi]")))))

  /** The run [[appendRange]] merges, if any: its input dirs and the
    * staged, seeded merged dir covering their bounds.
    */
  private def mergeRun(table: String, dirs: Seq[Dir]): Option[(Seq[Dir], Dir)] = {
    val byLo = dirs.filter(_.ranged).sortBy(_.lo)
    val older = byLo.dropRight(CompactFiles)
    // block widths 8, 64, ... up to the last that fits a Long
    val widths = Iterator.iterate(MergeFanIn.toLong)(_ * MergeFanIn).takeWhile(_ > 0)
    val picked = Option.when(older.nonEmpty)(byLo(older.size).lo).flatMap { horizon =>
      widths.flatMap { w =>
        older.groupBy(d => Math.floorDiv(d.lo, w)).toSeq.sortBy(_._1).collectFirst {
          case (b, ds) if b < Math.floorDiv(horizon, w) && ds.size >= MergeFanIn => ds
        }
      }.nextOption()
    }
    picked.map { run =>
      val bytes = run.map(dirBytes(table, _)).sum
      val files = ((bytes - 1) / spark.sessionState.conf.filesMaxPartitionBytes + 1).toInt
      val in = open(table, Map("" -> run))
      // round-robin: equal rows per file, so each file stays near bytes / files
      val rel = stagePhys(table, if (files <= 1) in.coalesce(1) else in.repartition(files))
      seed(new Path(dir(table), rel))
      run -> Dir(rel, run.map(_.lo).min, run.map(_.hi).max)
    }
  }

  /** Append into a layout partitioned by a discrete CATEGORY column (a
    * centroid id) rather than a range: each distinct
    * value is its own manifest key, so a read carrying an `isin`
    * predicate on `partCol` prunes to exactly the probed partitions before
    * any file opens. Unlike a range table's dirs, whose bounds live in
    * the manifest, the column survives the read — it IS data. The write
    * is spread over every core by [[byKey]], one file per key per append.
    */
  def appendPartitioned(table: String, df: DataFrame, partCol: String): Unit = {
    val rel = stagePhys(table, byKey(df, partCol), partitionBy = Some(partCol))
    rememberSchema(table, df.schema)
    val subs = stagedKeys(table, rel)
    if (subs.nonEmpty) {
      val m = manEntries(table)
      commitManifest(table, subs.foldLeft(m) { case (acc, (k, d)) =>
        acc.updated(k, acc.getOrElse(k, Seq.empty) :+ Dir(d))
      })
    }
    invalidate(table) // after the mutation — see append
  }

  /** `df` hash-partitioned on `partCol` into the session's shuffle
    * partition count (= cores), so a partitioned write runs one task per
    * core and each key lands in exactly one task: one file per key. The
    * count is explicit so AQE cannot coalesce the write back to one task
    * (which would write every key's file serially). Range appends stay
    * unshuffled: each writes one dir, and a shuffle there would add a
    * stage to every head write.
    */
  private def byKey(df: DataFrame, partCol: String): DataFrame =
    df.repartition(spark.sessionState.conf.numShufflePartitions, col(partCol))

  /** Delete rows with rangeCol ∈ [from, to]; see [[deleteRangeAll]]. */
  def deleteRange(table: String, rangeCol: String, from: Long, to: Long): Unit =
    deleteRangeAll(Seq(table -> rangeCol), from, to)

  /** [[deleteRange]] over several tables sharing one [from, to], decided
    * from the manifests' dir bounds: a dir inside the range drops out, a
    * disjoint dir stays, and only a dir straddling it (an unranged dir
    * always does) is rewritten, filtered, with narrowed bounds, or
    * dropped when no row survives. A straddler with no row in the range
    * (the footers' row counts match) keeps its dir, with narrowed bounds.
    * The ingest bracket's happy path (all dirs disjoint) and a reorg of
    * per-block dirs (all inside) run no Spark job (the reference: ONE DB
    * transaction per chunk, store/store.go:129-147). One commit per
    * changed table, in order.
    */
  def deleteRangeAll(tables: Seq[(String, String)], from: Long, to: Long): Unit =
    tables.foreach { case (t, rc) =>
      val m = manEntries(t)
      val next = m.map { case (k, ds) => k -> ds.flatMap { d =>
        if (d.hi < from || to < d.lo) Some(d)
        else if (from <= d.lo && d.hi <= to) None
        else {
          val rest = open(t, Map(k -> Seq(d))).filter(!col(rc).between(from, to))
          val rel = stagePhys(t, rest)
          val kept = footerRows(seed(new Path(dir(t), rel)))
          val narrowed = d.copy(lo = if (from <= d.lo) to + 1 else d.lo,
                                hi = if (d.hi <= to) from - 1 else d.hi)
          if (kept == footerRows(leafFiles(t, d.rel))) Some(narrowed)
          else Option.when(kept > 0)(narrowed.copy(rel = rel))
        }
      }}.filter(_._2.nonEmpty)
      if (next != m) {
        commitManifest(t, next)
        invalidate(t)
      }
    }

  /** Replace the table's whole content with `df` — for tiny state tables
    * only (head_state, ledger state, subscriptions); range tables retract
    * via deleteRange. The input may read from the table being replaced:
    * nothing is deleted until after the marker flip, so every read hits
    * the OLD generation's (still-live) files.
    */
  def replace(table: String, df: DataFrame): Unit = replaceAll(Seq(table -> df))

  /** Replace several tables whose NEW contents may read each other's OLD
    * files: every new generation is staged first, then all commits
    * happen — no plan ever re-reads a table that was already committed
    * under it.
    */
  def replaceAll(tables: Seq[(String, DataFrame)],
                 partitionBy: Map[String, String] = Map.empty): Unit = {
    val (stage, commitAll) = stageReplaceAll(tables, partitionBy)
    Par.run(stage)
    commitAll()
  }

  /** The two halves of [[replaceAll]] exposed separately: `_1` are the
    * independent staging thunks (each writes one table's new content to
    * a fresh hidden dir — safe to run in the SAME Par.run as other
    * independent store writes, which is how the per-block ingest bracket
    * overlaps its history appends with the state staging), `_2` commits
    * every staged dir strictly in caller order with ONE marker overwrite
    * per table (the crash-recovery protocol depends on the FIRST table —
    * the ledger marker — being visible before any state table flips).
    * Nothing is visible until `_2` runs; every staged plan reads only OLD
    * files. A category-partitioned replace (`partitionBy`) manifests each
    * `<key>=<v>` subdir under its logical key (the appendPartitioned
    * layout, so `isin` partition pruning keeps working), REPLACING the
    * whole previous entry map rather than folding into it.
    */
  def stageReplaceAll(tables: Seq[(String, DataFrame)],
                      partitionBy: Map[String, String] = Map.empty)
      : (Seq[() => Unit], () => Unit) = {
    val staged = tables.map { case (t, df) =>
      (t, df, ".d-" + java.util.UUID.randomUUID().toString)
    }
    val stage = staged.map { case (t, df, rel) => () => {
      partitionBy.get(t).fold(df.write)(c => byKey(df, c).write.partitionBy(c))
        .mode(SaveMode.Overwrite).parquet(new Path(dir(t), rel).toString)
    }}
    val commitAll = () => {
      staged.foreach { case (t, df, rel) =>
        rememberSchema(t, df.schema)
        val entries: Map[String, Seq[Dir]] =
          if (partitionBy.contains(t)) stagedKeys(t, rel).map { case (k, d) => k -> Seq(Dir(d)) }
          else if (seedRows(new Path(dir(t), rel))) Map("" -> Seq(Dir(rel)))
          else Map.empty
        commitManifest(t, entries)
      }
      tables.foreach { case (t, _) => invalidate(t) } // after every commit — see append
    }
    (stage, commitAll)
  }

  /** [[replace]] for a DRIVER-LOCAL tiny state table (the df must be built
    * from a local Seq — a LocalTableScan), priming the row cache with the
    * written rows: the `collect()` here is job-free (LocalTableScanExec
    * returns its rows without submitting a job), and the read-back Spark
    * job a later [[collectSmall]] would otherwise pay — one per state
    * table per micro-batch in the ingest loop — never happens.
    */
  def replaceSmall(table: String, df: DataFrame): Unit = {
    val rows = df.collect()
    replace(table, df)
    rowCache.put(table, Some(rows))
  }

  /** Prime the row cache for a DRIVER-LOCAL tiny table that was just
    * written through [[replaceAll]] (whose commit ordering the caller
    * needed — e.g. the ledger marker must land before the state tables):
    * same job-free LocalTableScan collect contract as [[replaceSmall]].
    */
  def primeSmall(table: String, df: DataFrame): Unit =
    rowCache.put(table, Some(df.collect()))

  /** Threshold-triggered compaction for CATEGORY-partitioned tables (the
    * streaming index `ivf_postings`). Each
    * micro-batch's [[appendPartitioned]] lands one file-set per touched
    * partition, so after 10⁴ batches a partition-pruned probe would open
    * 10⁴ small files: every partition in `parts` (default: all) whose
    * data-file count exceeds `maxFiles` is rewritten to one file per key, ALL of
    * them in ONE partitioned staged write ([[byKey]]: one job spread over
    * every core, however many keys cross the threshold together — and a
    * batch that touches every key makes them all cross together) swapped
    * in by one manifest commit. Rows are byte-identical, so every probe
    * invariant is untouched. File counts come from the seeded status
    * cache, so the threshold check lists nothing. Returns the number of
    * partitions rewritten.
    */
  def compactPartitions(table: String, partCol: String,
                        parts: Option[Seq[Any]] = None,
                        maxFiles: Int = CompactFiles): Int = {
    if (!exists(table)) return 0
    val m = manEntries(table)
    val keys: Seq[String] = parts match {
      case Some(vs) => vs.map(v => s"$partCol=$v")
      case None     => m.keys.filter(_.startsWith(partCol + "=")).toSeq
    }
    val fat = keys.distinct.filter(k => m.get(k).exists(physFileCount(table, _) > maxFiles))
    if (fat.nonEmpty) {
      val rel = stagePhys(table, byKey(open(table, m.view.filterKeys(fat.toSet).toMap), partCol),
        partitionBy = Some(partCol))
      val subs = stagedKeys(table, rel)
      // each key's rows were read back through its typed partition value;
      // a value whose rewritten dir name differs would drop the key's rows
      if (subs.keySet != fat.toSet)
        throw new IllegalStateException(s"table '$table': compaction of ${fat.size} keys " +
          s"staged keys ${subs.keySet.diff(fat.toSet).take(3).mkString(", ")} outside them " +
          s"or missed ${fat.toSet.diff(subs.keySet).take(3).mkString(", ")}; nothing committed")
      commitManifest(table, subs.foldLeft(m) { case (acc, (k, d)) =>
        acc.updated(k, Seq(Dir(d)))
      })
      invalidate(table)
    }
    fat.size
  }

  /** Remove a table entirely, schema sidecar included — for state tables
    * that drain to empty (the ingest side pool): a dropped table reads as
    * absent, so steady-state paths that branch on `exists` pay nothing for
    * it.
    */
  def drop(table: String): Unit = {
    deleteRecursive(dir(table))
    invalidate(table) // after the mutation — see append
  }

  private def deleteRecursive(p: Path): Unit =
    if (fs.exists(p)) { fs.delete(p, true): Unit }
}

object TableStore {
  /** One live physical dir of a manifest: `rel` under the table dir and,
    * for a range table's dir, the range column's [lo, hi] over its rows
    * (an unranged dir spans every value).
    */
  private final case class Dir(rel: String, lo: Long = Long.MinValue, hi: Long = Long.MaxValue) {
    def ranged: Boolean = lo != Long.MinValue || hi != Long.MaxValue
  }

  /** Thrown by a commit when another writer has taken the table (newer
    * epoch, foreign same-epoch writer id, or a lost marker read-back).
    * The store that threw must be treated as dead for the table —
    * re-instantiate to claim a fresh epoch and supersede back.
    */
  final class WriterSupersededException(msg: String) extends IllegalStateException(msg)

  /** Default reader-grace window for GC: how many STALE generations
    * (manifests + the physical dirs only they reference) survive past
    * each commit, so a second cluster serving reads off the same root —
    * the obvious deployment: one ingest writer, N query readers — can
    * resolve generation N and finish scanning N's dirs while the writer
    * commits up to `retain` further generations. 0 restores immediate GC
    * (single-process deployments). `GRAFT_STORE_MANIFEST_RETAIN`
    * overrides.
    */
  def ManifestRetainDefault: Int =
    sys.env.get("GRAFT_STORE_MANIFEST_RETAIN").flatMap(_.toIntOption).getOrElse(2)
}
