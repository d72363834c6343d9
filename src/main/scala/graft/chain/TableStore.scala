package graft.chain

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Transactional-enough table store over parquet directories.
  *
  * All path operations go through the Hadoop `FileSystem` API resolved
  * from `root`'s scheme — `root` may be a local path, `file://`,
  * `hdfs://`, or any other filesystem Spark's Hadoop configuration knows
  * (`s3a://`, `abfs://`, …). A store "designed for 100 TB" whose listings
  * and swaps ran through `java.nio.file` could never point at a cluster
  * filesystem; this one can.
  *
  * TWO COMMIT MODES share every public method:
  *   - `manifestCommit = false` (default — local/HDFS): the commit
  *     primitive is a directory rename (atomic there, and the cheapest
  *     possible metadata operation);
  *   - `manifestCommit = true` (object stores, where rename is
  *     copy+delete): data lands only in immutable hidden physical dirs,
  *     an immutable per-version manifest file lists which of them are
  *     live, and the COMMIT POINT is one overwrite of a tiny generation
  *     marker (a single-object PUT — atomic on S3-class stores; readers
  *     resolve the current generation via that single marker read and
  *     roll forward over a crashed marker write by probing for the next
  *     manifest version). Nothing is ever renamed; every crash window
  *     leaves only unreferenced staging dirs, garbage-collected on the
  *     next commit. GC retains a `manifestRetain`-generation reader-grace
  *     window, so EXTERNAL READER PROCESSES off the same root are safe
  *     (an ingest-writer + query-readers deployment). Single-WRITER is
  *     still the contract, and in manifest mode it is ENFORCED by a
  *     writer-epoch fence in the marker: each store instance claims
  *     epoch = (observed + 1) at its first commit to a table, every
  *     commit re-reads the marker first and FAILS LOUDLY
  *     ([[TableStore.WriterSupersededException]]) when a newer epoch (or
  *     a same-epoch foreign writer id, via post-write read-back) is
  *     observed — so a misconfigured second ingest job crashes instead of
  *     silently interleaving generations (the reference's duplicate-key-
  *     as-benign-concurrency-signal discipline, common/errors.go:48-57,
  *     service/indexer/indexer.go:151-163, translated to object stores:
  *     latest writer wins, superseded writers die). The residual window —
  *     two writers claiming the same epoch and committing within one
  *     read-back round-trip — needs a conditional PUT (Delta/Iceberg log)
  *     to close; every longer interleaving is detected.
  *     Same staged-write-then-promote ORDER as rename mode,
  *     so the ingest ledger's crash-recovery protocol is unchanged.
  *     Set `GRAFT_STORE_MANIFEST=1` to force the mode on for every store
  *     (how the spec suites run the whole ingest stack against it).
  *
  * Range-keyed tables (everything keyed by block number) are laid out in
  * fixed-width block BUCKETS — `table/bucket=N/` directories via Spark's
  * partitioned parquet writer — so that
  *   - retraction (the reference's `DELETE WHERE block_number BETWEEN f AND
  *     t`, store/store.go:319-378) rewrites ONLY the buckets overlapping
  *     the range: fully-covered buckets drop as directory deletes, the ≤2
  *     partially-covered edge buckets rewrite via an atomic directory swap.
  *     Cost is O(retraction range), never O(table) — at 100 TB a 20-block
  *     reorg must not rewrite years of history;
  *   - bounded tip reads (`readRange`) carry an explicit bucket predicate,
  *     so Spark's partition pruning skips every non-tip directory before
  *     any file is opened.
  *
  * A full production deployment may still prefer a Delta/Iceberg table
  * here — their logs add snapshot isolation for CONCURRENT writers,
  * which this single-writer store does not need; the manifest mode
  * implements the same commit discipline at this store's scope, so
  * "runs at 100 TB" no longer presumes a rename-atomic filesystem.
  * Idempotency (T6) comes from the admission fold in ChainIngest,
  * mirroring the reference's duplicate-key tolerance
  * (common/errors.go:48-57).
  */
final case class TableStore(spark: SparkSession, root: String,
                            bucketSize: Long = 100000L,
                            manifestCommit: Boolean = TableStore.ManifestDefault,
                            manifestRetain: Int = TableStore.ManifestRetainDefault) {

  private val rootPath = new Path(root)
  // one FileSystem per store, resolved from the root's scheme against the
  // session's Hadoop conf (core-site/spark.hadoop.* — where s3a keys etc.
  // live). FileSystem.get caches per (scheme, authority, ugi), so this is
  // also what every other Spark component talks to.
  private val fs: FileSystem =
    rootPath.getFileSystem(spark.sessionState.newHadoopConf())

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

  /** Driver-side RESOLVED-RELATION cache: `spark.read.parquet` builds a
    * fresh `InMemoryFileIndex` per call — one directory listing (one
    * object-store LIST round per partition dir at deployment scale) and
    * one relation resolution each — and the per-block ingest bracket
    * opens the same handful of tables many times per block. The store is
    * single-writer, and every mutation path ends in [[invalidate]], so a
    * cached relation is exactly the persisted file set; the stale-recache
    * race is closed by ConcurrentHashMap's bin lock (a `remove` racing a
    * `computeIfAbsent` either waits and removes the fresh entry, or the
    * compute re-lists post-mutation files — same argument as [[rowCache]]).
    * Only whole-table opens cache; bucket-dir opens inside deleteRange are
    * one-shot by nature.
    */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def invalidate(table: String): Unit = {
    rowCache.remove(table)
    relCache.remove(table)
    manCache.remove(table)
  }

  // ---- manifest commit mode ----------------------------------------------
  // Layout per table (all hidden — invisible to exists()'s data-file scan
  // and to any Spark listing):
  //   .gen                marker: ASCII "version epoch writerId" — three
  //                       space-separated tokens; THE commit point. Readers
  //                       take the FIRST token as the version; the epoch +
  //                       writerId pair is the writer fence (see
  //                       WriterSupersededException below)
  //   .manifest.N         immutable: one "<logicalKey>\t<relDir>" line per
  //                       live physical dir; logicalKey is "" (plain),
  //                       "bucket=N" (range tables) or "<partCol>=v"
  //                       (category tables)
  //   .d-<uuid>[/...]     immutable physical data dirs (parquet part files)
  // Commit = write .manifest.(N+1), overwrite .gen with N+1, then GC
  // manifests ≤ N and unreferenced .d-* dirs. A crash after the manifest
  // write but before the marker lands is healed by the roll-forward in
  // [[currentVersion]]; a crash before it leaves only unreferenced
  // garbage. Keys/dirs never contain tab or newline (Spark's writer
  // percent-escapes control characters in partition dir names).

  /** Driver-side manifest cache — same single-writer contract as
    * [[rowCache]]: every mutation ends in [[invalidate]].
    */
  private val manCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Seq[String]]]()

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

  private def genPath(table: String)               = new Path(dir(table), ".gen")
  private def manPath(table: String, v: Long)      = new Path(dir(table), s".manifest.$v")

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

  private def readSmallFile(p: Path): Option[String] =
    if (fs.exists(p)) {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in  = fs.open(p)
      try in.readFully(buf) finally in.close()
      Some(new String(buf, StandardCharsets.UTF_8))
    } else None

  private def writeSmallFile(p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** A manifest file is valid iff FULLY written: its last line is the
    * `#end` terminator [[commitManifest]] appends and every entry line
    * carries the key/dir tab. Validation is what makes the resolution
    * below safe on filesystems where small writes are NOT atomic (local,
    * HDFS): a torn `.manifest.(v+1)` from a crash mid-write — truncated
    * entries, or truncated to empty — must never be rolled forward onto
    * (commit order writes it BEFORE touching the marker, so the previous
    * generation is still fully intact), and a torn marker must never
    * wedge the table.
    */
  private val ManifestEnd = "#end"

  private def validManifest(p: Path): Boolean =
    readSmallFile(p).exists { s =>
      val lines = s.linesIterator.filter(_.nonEmpty).toSeq
      lines.lastOption.contains(ManifestEnd) &&
        lines.init.forall(_.contains('\t'))
    }

  /** Current committed version. Resolution, torn-write-safe:
    *   - marker parses → start there; else (absent OR torn mid-overwrite)
    *     fall back to the highest VALID manifest on disk — at a torn
    *     marker the new manifest is fully written and its predecessors
    *     are not yet GC'd (GC runs after the marker), so the listing
    *     recovers the true commit;
    *   - then roll FORWARD while the next manifest exists AND validates:
    *     a crash between the manifest write and the marker overwrite must
    *     not resurrect the previous generation (the successor's data is
    *     fully staged by construction, and the stageReplaceAll promote
    *     order stays monotone under roll-forward — a later table's
    *     manifest exists only if every earlier table's marker landed).
    */
  private def currentVersion(table: String): Long = {
    var v = readMarkerParts(table).map(_._1).getOrElse {
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

  /** The live (logicalKey → physical rel-dirs) map; empty when absent. */
  private def manEntries(table: String): Map[String, Seq[String]] =
    manCache.computeIfAbsent(table, t => {
      val v = currentVersion(t)
      if (v == 0L) Map.empty
      else readSmallFile(manPath(t, v)).fold(Map.empty[String, Seq[String]]) { s =>
        s.linesIterator.filter(l => l.nonEmpty && l != ManifestEnd).toSeq
          .map { line =>
            val i = line.indexOf('\t')
            (line.substring(0, i), line.substring(i + 1))
          }
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      }
    })

  /** Write version N+1 with `next`, flip the marker, GC. One marker
    * overwrite is the entire promote — no rename anywhere.
    *
    * GC keeps a READER-GRACE window: the newest `manifestRetain` stale
    * generations — manifest files AND every physical dir any retained
    * manifest references — survive this commit, so an external reader
    * that resolved generation G off the same root keeps reading G's dirs
    * successfully until `manifestRetain` further commits have landed
    * (the MVCC the reference gets for free from MySQL transactions,
    * store/sqldb/db.go:63-91, priced here as ≤retain stale generations
    * of garbage per table). `manifestRetain = 0` is the old immediate GC.
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
  private def commitManifest(table: String, next: Map[String, Seq[String]]): Unit = {
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
    val v = currentVersion(table)
    fs.mkdirs(dir(table))
    val body = (next.toSeq.sortBy(_._1)
      .flatMap { case (k, ds) => ds.map(d => s"$k\t$d") } :+ ManifestEnd).mkString("\n")
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
    // of a partially-referenced staging dir (a retracted bucket) is
    // deleted at the leaf level.
    val keepFrom = (v + 1) - math.max(0, manifestRetain)
    fs.listStatus(dir(table)).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(".manifest.") &&
          n.stripPrefix(".manifest.").toLongOption.exists(_ < keepFrom))
        deleteRecursive(st.getPath)
    }
    // union over every manifest still on disk: retained generations keep
    // their dirs alive; a torn manifest's parseable lines only ever
    // over-retain (never delete), which is the safe direction
    val referenced: Set[String] = fs.listStatus(dir(table)).flatMap { st =>
      val n = st.getPath.getName
      if (!n.startsWith(".manifest.")) Nil
      else readSmallFile(st.getPath).toSeq.flatMap(_.linesIterator
        .filter(l => l.nonEmpty && l != ManifestEnd && l.contains('\t'))
        .map(l => l.substring(l.indexOf('\t') + 1)))
    }.toSet
    fs.listStatus(dir(table)).foreach { st =>
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
    * Optionally partitioned (appendBucketed/appendPartitioned staging).
    */
  private def stagePhys(table: String, df: DataFrame,
                        partitionBy: Option[String] = None): String = {
    val rel = ".d-" + java.util.UUID.randomUUID().toString
    val w   = df.write.mode(SaveMode.Overwrite)
    partitionBy.fold(w)(w.partitionBy(_)).parquet(new Path(dir(table), rel).toString)
    rel
  }

  private def hasDataFiles(p: Path): Boolean =
    fs.exists(p) && fs.listStatus(p).exists(st => st.isFile && !hidden(st.getPath.getName))

  /** The schema of the FILES inside physical dirs: the sidecar shape,
    * minus any category partition column (those live in the dir names —
    * [[openManifest]] rebuilds them as data; derived `bucket=` keys are
    * not in the sidecar, range tables remember the pre-bucket shape).
    */
  private def physFileSchema(table: String): Option[StructType] =
    rememberedSchema(table).map { s =>
      val catNames = manEntries(table).keys.filter(_.contains('='))
        .map(_.takeWhile(_ != '=')).filter(s.fieldNames.contains).toSet
      if (catNames.isEmpty) s else StructType(s.filterNot(f => catNames(f.name)))
    }

  /** Open a set of physical rel-dirs with the file schema. */
  private def openPhys(table: String, rels: Seq[String]): DataFrame = {
    val paths = rels.map(r => new Path(dir(table), r).toString)
    physFileSchema(table).fold(spark.read)(s => spark.read.schema(s))
      .parquet(paths: _*)
  }

  private def isCategoryKeyName(table: String, name: String): Boolean =
    rememberedSchema(table).exists(_.fieldNames.contains(name))

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

  /** Whole-table read in manifest mode: resolve the marker once, open
    * exactly the live physical dirs. Category keys rebuild their data
    * column (typed from the sidecar) and land in sidecar column order.
    */
  private def openManifest(table: String): DataFrame = {
    val entries = manEntries(table)
    val catName = entries.keys.find(_.contains('='))
      .map(_.takeWhile(_ != '=')).filter(isCategoryKeyName(table, _))
    catName match {
      case None => openPhys(table, entries.values.flatten.toSeq)
      case Some(name) =>
        val sch = rememberedSchema(table).get
        val dt  = sch(name).dataType
        entries.toSeq.sortBy(_._1).map { case (k, ds) =>
          val v = unescapePartitionValue(k.drop(name.length + 1))
          openPhys(table, ds).withColumn(name, lit(v).cast(dt))
        }.reduce(_ unionByName _).select(sch.fieldNames.map(col).toSeq: _*)
    }
  }

  /** Collected rows of a tiny state table (None when absent), cached on
    * the driver until the next write to the table through this store.
    * Only for tables whose whole content is O(1) rows by construction.
    */
  def collectSmall(table: String): Option[Array[org.apache.spark.sql.Row]] =
    rowCache.computeIfAbsent(table, t => Option(readOr(t, null)).map(_.collect()))

  private def dir(table: String): Path = new Path(rootPath, table)
  private def bucketDir(table: String, b: Long): Path =
    new Path(dir(table), s"bucket=$b")

  def bucketOf(v: Long): Long = Math.floorDiv(v, bucketSize)

  /** File-count threshold above which a clean deleteRange probe compacts
    * the partial bucket anyway (see deleteRange). 64 balances rewrite
    * amortization against listing/footer cost growth; coalesce(1) is safe
    * because a single bucket is by construction a bounded slice of the
    * table.
    */
  private val CompactFiles = 64

  private def hidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  private def dataFileCount(d: Path): Long =
    fs.listStatus(d).count(st => st.isFile && !hidden(st.getPath.getName)).toLong

  /** Data files across a logical key's physical dirs (manifest mode). */
  private def physFileCount(table: String, rels: Seq[String]): Long =
    rels.map(r => dataFileCount(new Path(dir(table), r))).sum

  /** A table exists only if it holds at least one DATA file: an append of
    * an empty DataFrame leaves a `_SUCCESS`-only directory, and swap
    * machinery can leave hidden `.bucket=N_tmp`/`_old` siblings — counting
    * those would send `spark.read.parquet` into "Unable to infer schema".
    * Hidden subtrees (any path component starting with `.` or `_`) are
    * skipped entirely, matching what Spark's file index would list. One
    * recursive LIST (`listFiles`), not one round per directory level.
    */
  def exists(table: String): Boolean = if (manifestCommit) {
    // manifest mode: liveness is a manifest property — only staged dirs
    // that contained at least one data file are ever committed, so a
    // non-empty entry map IS the data-file guarantee (one marker read,
    // no recursive listing)
    manEntries(table).nonEmpty
  } else {
    // qualify first: with a RELATIVE store root the listed paths come
    // back absolute while the raw prefix would stay relative, turning
    // the strip into a no-op and hidden-checking every parent component
    // of the cwd — tables would falsely read as absent
    val d = fs.makeQualified(dir(table))
    fs.exists(d) && {
      val base = d.toUri.getPath.stripSuffix("/")
      val it   = fs.listFiles(d, true)
      var found = false
      while (!found && it.hasNext) {
        val st = it.next()
        if (st.isFile) {
          val rel = st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
          found = rel.split('/').forall(n => !hidden(n))
        }
      }
      found
    }
  }

  // ---- schema sidecar ----------------------------------------------------
  // Every write records the table's logical schema in a hidden
  // `.schema.json` (invisible to Spark's file listing and to exists()).
  // A table whose current content is zero DATA files — an append of an
  // empty DataFrame, or a retraction that emptied it — then still reads
  // as a TYPED empty DataFrame instead of crashing schema inference or
  // forcing every caller to carry a fallback StructType.
  // The file is rewritten only when the schema changes: a reader beside
  // the writer parses it on every open, and an in-place rewrite of the
  // same bytes would hand that reader a truncated file for nothing.

  private val SchemaFile = ".schema.json"

  private def schemaPath(table: String): Path = new Path(dir(table), SchemaFile)

  private def rememberSchema(table: String, schema: StructType): Unit = {
    val json = schema.json
    if (!rememberedJson(table).contains(json)) {
      fs.mkdirs(dir(table))
      val out = fs.create(schemaPath(table), true)
      try out.write(json.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  private def rememberedJson(table: String): Option[String] = {
    val p = schemaPath(table)
    if (fs.exists(p)) {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in  = fs.open(p)
      try in.readFully(buf) finally in.close()
      Some(new String(buf, StandardCharsets.UTF_8))
    } else None
  }

  private def rememberedSchema(table: String): Option[StructType] =
    rememberedJson(table).map(org.apache.spark.sql.types.DataType.fromJson(_).asInstanceOf[StructType])

  private def emptyOf(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def read(table: String, schema: StructType): DataFrame =
    if (exists(table)) readOr(table, null)
    else emptyOf(Option(schema).orElse(rememberedSchema(table)).getOrElse(
      throw new IllegalStateException(s"no schema known for empty table '$table'")))

  /** Open the table with the REMEMBERED schema when one exists: a
    * schema-less `spark.read.parquet` launches a footer-inference job
    * before the first real action, and the per-block ingest bracket opens
    * ~18 tables per block — the sidecar makes those opens job-free.
    * Partition columns (`bucket=N` dirs) are discovered from the layout
    * and appended to the user schema by Spark, so bucketed tables read
    * identically either way.
    */
  private def doOpen(path: String, table: String): DataFrame =
    rememberedSchema(table).fold(spark.read)(s => spark.read.schema(s))
      .parquet(path)

  private def open(path: String, table: String): DataFrame =
    if (path == dir(table).toString)
      relCache.computeIfAbsent(table, _ => doOpen(path, table))
    else doOpen(path, table)

  def readOr(table: String, fallback: => DataFrame): DataFrame =
    if (exists(table)) {
      val df =
        if (manifestCommit) relCache.computeIfAbsent(table, _ => openManifest(table))
        else open(dir(table).toString, table)
      if (df.columns.contains("bucket")) df.drop("bucket") else df
    } else rememberedSchema(table).map(emptyOf).getOrElse(fallback)

  /** Bounded read of a bucketed table: the bucket predicate prunes whole
    * directories, the range predicate prunes row groups within them. In
    * manifest mode the pruning happens at PATH level — only the bucket
    * keys inside the range are even listed, which is strictly stronger
    * than a partition filter (zero LIST rounds for non-tip buckets).
    */
  def readRange(table: String, rangeCol: String, from: Long, to: Long,
                schema: StructType): DataFrame = {
    if (!exists(table)) return read(table, schema)
    if (manifestCommit) {
      val sel = manEntries(table).filter { case (k, _) =>
        !k.startsWith("bucket=") || k.drop("bucket=".length).toLongOption
          .forall(b => b >= bucketOf(from) && b <= bucketOf(to))
      }
      val base =
        if (sel.isEmpty)
          emptyOf(rememberedSchema(table).orElse(Option(schema)).getOrElse(
            throw new IllegalStateException(s"no schema known for table '$table'")))
        else openPhys(table, sel.values.flatten.toSeq)
      return base.filter(col(rangeCol).between(from, to))
    }
    val df = open(dir(table).toString, table)
    val pruned =
      if (df.columns.contains("bucket"))
        df.filter(col("bucket").between(bucketOf(from), bucketOf(to))).drop("bucket")
      else df
    pruned.filter(col(rangeCol).between(from, to))
  }

  /** Plain append for small non-range tables (reorg audit, head state). */
  def append(table: String, df: DataFrame): Unit = {
    if (manifestCommit) {
      val rel = stagePhys(table, df)
      rememberSchema(table, df.schema)
      if (hasDataFiles(new Path(dir(table), rel))) {
        val m = manEntries(table)
        commitManifest(table, m.updated("", m.getOrElse("", Seq.empty) :+ rel))
      }
    } else {
      df.write.mode(SaveMode.Append).parquet(dir(table).toString)
      rememberSchema(table, df.schema)
    }
    // invalidate AFTER the mutation: invalidating first leaves a window
    // where a concurrent collectSmall (Par runs store actions on pool
    // threads) re-caches the PRE-write rows and nothing ever clears them
    invalidate(table)
  }

  /** Append into the bucketed layout, bucketed on `rangeCol`. */
  def appendBucketed(table: String, df: DataFrame, rangeCol: String): Unit = {
    if (manifestCommit) {
      val rel = stagePhys(table,
        df.withColumn("bucket", floor(col(rangeCol) / bucketSize).cast("long")),
        partitionBy = Some("bucket"))
      rememberSchema(table, df.schema)
      registerStagedPartitions(table, rel)
    } else {
      df.withColumn("bucket", floor(col(rangeCol) / bucketSize).cast("long"))
        .write.mode(SaveMode.Append).partitionBy("bucket")
        .parquet(dir(table).toString)
      rememberSchema(table, df.schema) // pre-bucket shape — reads drop `bucket`
    }
    invalidate(table) // after the mutation — see append
  }

  /** Append into a layout partitioned by a discrete CATEGORY column (hash
    * prefix, shard id) rather than a block-number range: each distinct
    * value is its own directory, so a read carrying an `isin` predicate on
    * `partCol` prunes to exactly the probed partitions before any file
    * opens. Unlike `appendBucketed` the column survives the read — it IS
    * data, not a derived bucket.
    */
  def appendPartitioned(table: String, df: DataFrame, partCol: String): Unit = {
    if (manifestCommit) {
      val rel = stagePhys(table, df, partitionBy = Some(partCol))
      rememberSchema(table, df.schema)
      registerStagedPartitions(table, rel)
    } else {
      df.write.mode(SaveMode.Append).partitionBy(partCol).parquet(dir(table).toString)
      rememberSchema(table, df.schema)
    }
    invalidate(table) // after the mutation — see append
  }

  /** Register every `<key>=<v>` subdir of a freshly staged partitioned
    * write under its logical key and commit once; a subdir with no data
    * files (and the whole stage, for an empty input) is never
    * referenced — the next commit's GC sweeps it.
    */
  private def registerStagedPartitions(table: String, rel: String): Unit = {
    val top = new Path(dir(table), rel)
    val subs =
      if (!fs.exists(top)) Seq.empty
      else fs.listStatus(top).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains('=') &&
          hasDataFiles(st.getPath))
        .map(_.getPath.getName)
    if (subs.nonEmpty) {
      val m = manEntries(table)
      commitManifest(table, subs.foldLeft(m)((acc, sub) =>
        acc.updated(sub, acc.getOrElse(sub, Seq.empty) :+ s"$rel/$sub")))
    }
  }

  /** Delete rows with rangeCol ∈ [from, to]: drop fully-covered bucket
    * directories, swap-rewrite the partial edge buckets. O(range), not
    * O(table).
    */
  def deleteRange(table: String, rangeCol: String, from: Long, to: Long): Unit = {
    if (!exists(table)) return
    if (manifestCommit) {
      val m = manEntries(table)
      var next = m
      (bucketOf(from) to bucketOf(to)).foreach { b =>
        val key = s"bucket=$b"
        m.get(key).foreach { ds =>
          val bucketLo = b * bucketSize
          val bucketHi = bucketLo + bucketSize - 1
          if (from <= bucketLo && bucketHi <= to) {
            next -= key // fully covered: drop the entry, GC reclaims the dirs
          } else {
            // same probe-then-rewrite + threshold-compaction economics as
            // the rename path below; the rewrite lands in a fresh
            // immutable dir and the old list is swapped in the manifest —
            // or the KEY drops when the rewrite filtered to zero rows
            // (exists()'s "committed entries hold data" invariant)
            val bucket = openPhys(table, ds)
            if (!bucket.filter(col(rangeCol).between(from, to)).isEmpty) {
              val rel = stagePhys(table, bucket.filter(!col(rangeCol).between(from, to)))
              next =
                if (hasDataFiles(new Path(dir(table), rel))) next.updated(key, Seq(rel))
                else next - key
            } else if (physFileCount(table, ds) > CompactFiles)
              next = next.updated(key, Seq(stagePhys(table, bucket.coalesce(1))))
          }
        }
      }
      if (next != m) commitManifest(table, next)
      refresh(table)
      invalidate(table)
      return
    }
    (bucketOf(from) to bucketOf(to)).foreach { b =>
      val bd = bucketDir(table, b)
      if (fs.exists(bd)) {
        val bucketLo = b * bucketSize
        val bucketHi = bucketLo + bucketSize - 1
        if (from <= bucketLo && bucketHi <= to) {
          deleteRecursive(bd) // fully covered: directory delete, no rewrite
        } else {
          // probe before rewriting: the replay-idempotent delete-then-
          // append bracket deletes a range that on the HAPPY path has no
          // rows yet, and unconditionally rewriting would copy the whole
          // (growing) edge bucket once per block — O(bucket) per block,
          // quadratic over a bucket's lifetime. The probe is one row-
          // group-stat-pruned limit-1 job; only an actual replay/reorg
          // pays the rewrite. Files inside `bucket=N` carry the pre-
          // bucket schema, which is exactly the remembered sidecar.
          //
          // BUT skipping every rewrite un-does the compaction the old
          // unconditional path provided: per-block append-only traffic
          // would accumulate one part-file set per block, unbounded up to
          // bucketSize appends, and every later read pays per-file
          // listing/footer costs. So the clean-probe path still compacts
          // once the bucket's file count crosses `CompactFiles` —
          // amortized O(1/CompactFiles) rewrites per block, bounded file
          // counts forever.
          val bucket = open(bd.toString, table)
          if (!bucket.filter(col(rangeCol).between(from, to)).isEmpty)
            swapInto(bd, bucket.filter(!col(rangeCol).between(from, to)))
          else if (dataFileCount(bd) > CompactFiles)
            swapInto(bd, bucket.coalesce(1))
        }
      }
    }
    refresh(table)
    invalidate(table) // after the mutation — see append
  }

  /** Batched happy-path form of [[deleteRange]] over several tables
    * sharing one [from, to]: fully-covered buckets still drop as directory
    * deletes (no job), but the partial EDGE buckets of ALL tables probe in
    * ONE union job instead of one `isEmpty` job per table — the per-block
    * ingest bracket runs this delete-then-append idempotency sweep over
    * 6–9 tables per micro-batch, and on the happy path (no replay, no
    * reorg) every probe comes back clean, so per-table probing pays 6–9
    * Spark-job launches per block for nothing (the reference's analogue is
    * ONE DB transaction per chunk, store/store.go:129-147). Dirty buckets
    * rewrite exactly as [[deleteRange]] does; compaction for clean
    * over-fragmented buckets is unchanged.
    */
  def deleteRangeAll(tables: Seq[(String, String)], from: Long, to: Long): Unit = {
    if (manifestCommit) {
      // same batched edge probe (ONE union job for every table's partial
      // buckets), with one manifest commit per changed table in caller
      // order
      val touched = tables.filter { case (t, _) => exists(t) }
      val state = scala.collection.mutable.LinkedHashMap[String, Map[String, Seq[String]]]()
      val medges = Seq.newBuilder[(String, String, String)]
      touched.foreach { case (t, rc) =>
        val m = manEntries(t)
        var next = m
        (bucketOf(from) to bucketOf(to)).foreach { b =>
          val key = s"bucket=$b"
          if (m.contains(key)) {
            val lo = b * bucketSize
            val hi = lo + bucketSize - 1
            if (from <= lo && hi <= to) next -= key else medges += ((t, rc, key))
          }
        }
        state(t) = next
      }
      val es = medges.result()
      if (es.nonEmpty) {
        val dirty = es.map { case (t, rc, key) =>
          openPhys(t, manEntries(t)(key)).filter(col(rc).between(from, to))
            .select(lit(t).as("t"), lit(key).as("k")).limit(1)
        }.reduce(_ unionByName _)
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
        es.foreach { case (t, rc, key) =>
          val ds = manEntries(t)(key)
          if (dirty((t, key))) {
            val rel = stagePhys(t, openPhys(t, ds).filter(!col(rc).between(from, to)))
            state(t) =
              if (hasDataFiles(new Path(dir(t), rel))) state(t).updated(key, Seq(rel))
              else state(t) - key // rewrite emptied the bucket — see deleteRange
          } else if (physFileCount(t, ds) > CompactFiles)
            state(t) = state(t).updated(key, Seq(stagePhys(t, openPhys(t, ds).coalesce(1))))
        }
      }
      touched.foreach { case (t, _) =>
        if (state(t) != manEntries(t)) commitManifest(t, state(t))
        refresh(t); invalidate(t)
      }
      return
    }
    val edges = Seq.newBuilder[(String, String, Path, Long)]
    val touched = tables.filter { case (table, _) => exists(table) }
    touched.foreach { case (table, rangeCol) =>
      (bucketOf(from) to bucketOf(to)).foreach { b =>
        val bd = bucketDir(table, b)
        if (fs.exists(bd)) {
          val bucketLo = b * bucketSize
          val bucketHi = bucketLo + bucketSize - 1
          if (from <= bucketLo && bucketHi <= to) deleteRecursive(bd)
          else edges += ((table, rangeCol, bd, b))
        }
      }
    }
    val es = edges.result()
    if (es.nonEmpty) {
      val dirty = es.map { case (table, rangeCol, bd, b) =>
        open(bd.toString, table).filter(col(rangeCol).between(from, to))
          .select(lit(table).as("t"), lit(b).as("b")).limit(1)
      }.reduce(_ unionByName _)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      es.foreach { case (table, rangeCol, bd, b) =>
        val bucket = open(bd.toString, table)
        if (dirty((table, b)))
          swapInto(bd, bucket.filter(!col(rangeCol).between(from, to)))
        else if (dataFileCount(bd) > CompactFiles)
          swapInto(bd, bucket.coalesce(1))
      }
    }
    touched.foreach { case (t, _) => refresh(t); invalidate(t) }
  }

  /** Replace the table's whole content with `df` — for tiny state tables
    * only (head_state, ledger state, subscriptions); range tables retract
    * via deleteRange. The input may read from the table being replaced:
    * the write lands in a sibling tmp dir before the swap.
    */
  def replace(table: String, df: DataFrame): Unit = {
    val schema = df.schema // capture BEFORE the swap deletes the old dir
    if (manifestCommit) {
      // the staged plan may read the table being replaced: nothing is
      // deleted until after the marker flip, so every read hits the OLD
      // generation's (still-live) files
      val rel = stagePhys(table, df)
      rememberSchema(table, schema)
      commitManifest(table,
        if (hasDataFiles(new Path(dir(table), rel))) Map("" -> Seq(rel)) else Map.empty)
    } else {
      swapInto(dir(table), df)
      rememberSchema(table, schema)
    }
    refresh(table)
    invalidate(table) // after the mutation — see append
  }

  /** Replace several tables whose NEW contents may read each other's OLD
    * files: every tmp dir is written first, then all swaps happen — no
    * plan ever re-reads a directory that was already swapped under it.
    */
  def replaceAll(tables: Seq[(String, DataFrame)]): Unit = {
    val (stage, promoteAll) = stageReplaceAll(tables)
    Par.run(stage)
    promoteAll()
  }

  /** The two halves of [[replaceAll]] exposed separately: `_1` are the
    * independent staging thunks (each writes one table's new content to
    * its tmp dir — safe to run in the SAME Par.run as other independent
    * store writes, which is how the per-block ingest bracket overlaps its
    * history appends with the state staging), `_2` promotes every staged
    * dir strictly in caller order (the crash-recovery protocol depends on
    * the FIRST table — the ledger marker — being visible before any state
    * dir swaps). Nothing is visible until `_2` runs; every staged plan
    * reads only OLD files.
    */
  def stageReplaceAll(tables: Seq[(String, DataFrame)],
                      partitionBy: Map[String, String] = Map.empty)
      : (Seq[() => Unit], () => Unit) = {
    if (manifestCommit) {
      val staged = tables.map { case (t, df) =>
        (t, df, ".d-" + java.util.UUID.randomUUID().toString)
      }
      val stage = staged.map { case (t, df, rel) => () => {
        val w = df.write.mode(SaveMode.Overwrite)
        partitionBy.get(t).fold(w)(w.partitionBy(_))
          .parquet(new Path(dir(t), rel).toString)
      }}
      val promoteAll = () => {
        staged.foreach { case (t, df, rel) =>
          rememberSchema(t, df.schema)
          // promote = ONE marker overwrite per table, strictly in caller
          // order — the ledger-first crash protocol holds verbatim.
          // A category-partitioned replace manifests each `<key>=<v>`
          // subdir under its logical key (the appendPartitioned layout,
          // so `isin` partition pruning keeps working), REPLACING the
          // whole previous entry map rather than folding into it.
          val entries: Map[String, Seq[String]] = partitionBy.get(t) match {
            case None =>
              if (hasDataFiles(new Path(dir(t), rel))) Map("" -> Seq(rel)) else Map.empty
            case Some(_) =>
              val top = new Path(dir(t), rel)
              if (!fs.exists(top)) Map.empty
              else fs.listStatus(top).toSeq
                .filter(st => st.isDirectory && st.getPath.getName.contains('=') &&
                  hasDataFiles(st.getPath))
                .map(st => st.getPath.getName -> Seq(s"$rel/${st.getPath.getName}"))
                .toMap
          }
          commitManifest(t, entries)
          refresh(t)
        }
        tables.foreach { case (t, _) => invalidate(t) }
      }
      return (stage, promoteAll)
    }
    val staged = tables.map { case (t, df) =>
      val target = dir(t)
      val tmp    = sibling(target, "_tmp")
      (t, df, target, tmp)
    }
    val stage = staged.map { case (t, df, _, tmp) => () => {
      deleteRecursive(tmp)
      val w = df.write.mode(SaveMode.Overwrite)
      partitionBy.get(t).fold(w)(w.partitionBy(_)).parquet(tmp.toString)
    }}
    val promoteAll = () => {
      staged.foreach { case (t, _, target, tmp) =>
        promote(target, tmp)
        refresh(t)
      }
      tables.foreach { case (t, df) => rememberSchema(t, df.schema) }
      tables.foreach { case (t, _) => invalidate(t) } // after every promote — see append
    }
    (stage, promoteAll)
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
    * written through [[replaceAll]] (whose promote ordering the caller
    * needed — e.g. the ledger marker must land before the state dirs):
    * same job-free LocalTableScan collect contract as [[replaceSmall]].
    */
  def primeSmall(table: String, df: DataFrame): Unit =
    rowCache.put(table, Some(df.collect()))

  /** Threshold-triggered compaction for CATEGORY-partitioned tables (the
    * streaming index tables: `lsh_postings`/`lsh_sigs`/`ivf_postings`/
    * `chunk_hashes`). Each micro-batch's [[appendPartitioned]] lands one
    * file-set per touched partition and nothing ever range-deletes them,
    * so after 10⁴ batches a partition-pruned probe would open 10⁴ small
    * files: any partition in `parts` (default: all) whose data-file count
    * exceeds `maxFiles` is rewritten to one file via the same atomic
    * directory swap as [[deleteRange]]'s edge buckets. Rows (including
    * their batch_id replay tags) are byte-identical, so every replay and
    * probe invariant is untouched; a crash mid-compaction leaves some
    * partitions compacted and others not, which the next trigger converges.
    * The partition column lives in the DIRECTORY name, not the files — the
    * rewrite reads the partition dir with the remembered schema minus
    * `partCol` and writes the same shape back. Callers trigger with the
    * batch's TOUCHED partitions so the listing cost scales with the batch,
    * not the table. Returns the number of partitions rewritten.
    */
  def compactPartitions(table: String, partCol: String,
                        parts: Option[Seq[Any]] = None,
                        maxFiles: Int = CompactFiles): Int = {
    if (!exists(table)) return 0
    if (manifestCommit) {
      val m = manEntries(table)
      val keys: Seq[String] = parts match {
        case Some(vs) => vs.map(v => s"$partCol=$v")
        case None     => m.keys.filter(_.startsWith(partCol + "=")).toSeq
      }
      var next = m
      var n = 0
      keys.foreach { k =>
        m.get(k).foreach { ds =>
          if (physFileCount(table, ds) > maxFiles) {
            next = next.updated(k, Seq(stagePhys(table, openPhys(table, ds).coalesce(1))))
            n += 1
          }
        }
      }
      if (n > 0) { commitManifest(table, next); refresh(table); invalidate(table) }
      return n
    }
    val dirs: Seq[Path] = parts match {
      case Some(vs) => vs.map(v => new Path(dir(table), s"$partCol=$v"))
      case None =>
        fs.listStatus(dir(table)).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith(partCol + "="))
          .map(_.getPath)
    }
    val fileSchema = rememberedSchema(table)
      .map(s => StructType(s.filterNot(_.name == partCol)))
    var n = 0
    dirs.foreach { pd =>
      if (fs.exists(pd) && dataFileCount(pd) > maxFiles) {
        val rows = fileSchema.fold(spark.read)(spark.read.schema(_)).parquet(pd.toString)
        swapInto(pd, rows.coalesce(1))
        n += 1
      }
    }
    if (n > 0) { refresh(table); invalidate(table) }
    n
  }

  /** Retention prune for a CATEGORY-partitioned state table: rewrite it
    * keeping only rows with `rangeCol >= keepFrom`, atomically (staged
    * write, one promote — a crash leaves the un-pruned generation live).
    * The streaming dedup state tables (`chunk_hashes`, `lsh_sigs`,
    * `lsh_postings`) grow one row per distinct chunk/canonical FOREVER —
    * inherent to exact dedup — and this is the knob that bounds them when
    * a deployment accepts sliding-window semantics (dedup against the
    * last N batches) instead: callers invoke it once per retention window,
    * so the amortized per-batch cost is O(state / window). Rows keep their
    * batch_id replay tags; a replayed prune recomputes the identical
    * result. No-op when the table is absent.
    */
  def retainFrom(table: String, rangeCol: String, keepFrom: Long,
                 partCol: String): Unit = {
    if (!exists(table)) return
    val pruned = readOr(table, null).filter(col(rangeCol) >= keepFrom)
    val (stage, promote) = stageReplaceAll(Seq(table -> pruned),
      partitionBy = Map(table -> partCol))
    stage.foreach(_.apply())
    promote()
  }

  /** Remove a table entirely — for state tables that drain to empty (the
    * ingest side pool): unlike replacing with an empty DataFrame, a dropped
    * table reads as absent, so steady-state paths that branch on `exists`
    * pay nothing for it.
    */
  def drop(table: String): Unit = {
    deleteRecursive(dir(table))
    refresh(table)
    invalidate(table) // after the mutation — see append
  }

  /** Drop Spark's cached file listing for the table's path — a swapped or
    * deleted directory otherwise serves STALE part-file lists to later
    * scans (FileNotFoundException mid-query).
    */
  private def refresh(table: String): Unit =
    spark.catalog.refreshByPath(dir(table).toString)

  private def sibling(target: Path, suffix: String): Path =
    new Path(target.getParent, "." + target.getName + suffix)

  /** Write df to a sibling tmp dir, then atomically swap it into `target` —
    * a concurrent reader never sees a half-written directory.
    */
  private def swapInto(target: Path, df: DataFrame): Unit = {
    val tmp = sibling(target, "_tmp")
    deleteRecursive(tmp)
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    promote(target, tmp)
  }

  /** Promote a fully-staged tmp dir over `target`: park the live dir as a
    * hidden `_old` sibling, rename tmp into place, drop the parked dir.
    * Both renames are single metadata operations (atomic on local/HDFS;
    * an object-store deployment replaces this seam with a manifest commit
    * — see the class doc). The destination of each rename never exists —
    * Hadoop rename into an existing directory would NEST the source — and
    * a crash between the two renames converges: the table reads as absent
    * (tmp and `_old` are hidden), and the next replace/swap of the table
    * re-stages from scratch, exactly the recovery contract the ingest
    * ledger protocol is built on. A whole-table swap carries the live
    * schema sidecar into the staged dir first, so the sidecar is moved,
    * not rewritten, when the schema is unchanged.
    */
  private def promote(target: Path, tmp: Path): Unit = {
    val old = sibling(target, "_old")
    deleteRecursive(old)
    val sidecar = new Path(target, SchemaFile)
    if (fs.exists(sidecar)) require(fs.rename(sidecar, new Path(tmp, SchemaFile)),
      s"rename $sidecar into $tmp failed")
    if (fs.exists(target)) require(fs.rename(target, old),
      s"rename $target -> $old failed")
    require(fs.rename(tmp, target), s"rename $tmp -> $target failed")
    deleteRecursive(old)
  }

  private def deleteRecursive(p: Path): Unit =
    if (fs.exists(p)) { fs.delete(p, true): Unit }
}

object TableStore {
  /** Thrown by a manifest-mode commit when another writer has taken the
    * table (newer epoch, foreign same-epoch writer id, or a lost marker
    * read-back). The store that threw must be treated as dead for the
    * table — re-instantiate to claim a fresh epoch and supersede back.
    */
  final class WriterSupersededException(msg: String) extends IllegalStateException(msg)

  /** Default commit mode: rename (local/HDFS). `GRAFT_STORE_MANIFEST=1`
    * forces every store constructed without an explicit `manifestCommit`
    * into manifest mode — how the spec suites run the whole ingest stack
    * against the object-store commit path.
    */
  def ManifestDefault: Boolean =
    sys.env.get("GRAFT_STORE_MANIFEST").exists(v => v == "1" || v.equalsIgnoreCase("true"))

  /** Default reader-grace window for manifest-mode GC: how many STALE
    * generations (manifests + the physical dirs only they reference)
    * survive past each commit, so a second cluster serving reads off the
    * same object-store root — the obvious deployment: one ingest writer,
    * N query readers — can resolve generation N and finish scanning N's
    * dirs while the writer commits up to `retain` further generations.
    * 0 restores immediate GC (single-process deployments).
    * `GRAFT_STORE_MANIFEST_RETAIN` overrides.
    */
  def ManifestRetainDefault: Int =
    sys.env.get("GRAFT_STORE_MANIFEST_RETAIN").flatMap(_.toIntOption).getOrElse(2)
}
