package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import graft.Indexer
import graft.chain.{ChainStore, TableStore}
import graft.streaming.{BalanceIngest, ChainIngest}

/** `head-follow`: the 24/7 tip-following regime. An open loop announces one
  * block per fixed interval over WS `newHeads`; every [[ReorgEvery]]-th
  * announcement is a 2-deep reorg. After the heads, a closed-loop reader
  * makes [[Reads]] `ChainStore` lookups on its own session. The reads
  * follow the writes rather than run beside them: on this store a lookup
  * racing a commit can fail (see the benchmark's README).
  *
  * The reference publishes no traffic figures, so the block shape is an
  * assumption that follows the workload's description: tens of
  * transactions per block, several hundred subscribers in a few groups.
  */
object HeadFollow {
  val ReorgEvery = 2
  val ReorgDepth = 2
  val TxsPerBlock = 24
  val Subscribers = 300
  val Groups = 4
  val CommitTimeoutMs = 120000L
  val Reads = 35

  /** One announced head: what it was, when it was due and when it went out. */
  final case class Head(number: Long, hash: Seq[Byte], dueMs: Long, sentMs: Long)

  final class World(val dir: Path, val stub: StubNode, val wiring: Indexer.Wiring) {
    def close(): Unit = try wiring.close() finally stub.stop()
  }

  private def startWorld(spark: SparkSession, gen: ChainGen, dir: Path): World = {
    import spark.implicits._
    val stub = new StubNode(gen)
    stub.start()
    val data = dir.resolve("data").toString
    TableStore(spark, data).replace(BalanceIngest.SubsTable,
      gen.subs.map { case (id, g, a) => (id, 1L, g, a) }.toDF("id", "block_number", "group", "address"))
    val cfg = Indexer.Config(
      endpoints = Seq(stub.httpUrl), wsUrls = Seq(stub.wsUrl),
      dataDir = data, checkpointDir = dir.resolve("checkpoint").toString,
      erc20 = gen.tokenNames.zip(gen.tokens), metricsPort = 0)
    val w = new World(dir, stub, Indexer.start(spark, cfg))
    val deadline = System.currentTimeMillis() + 30000L
    while (stub.subscribers < 1) {
      require(System.currentTimeMillis() < deadline, "the indexer never subscribed to newHeads")
      Thread.sleep(5)
    }
    w
  }

  /** Feed sequence of the bundle with `hash`, if the feed has pulled it. */
  private def seqOf(w: World, hash: Seq[Byte]): Option[Long] = {
    val n = w.wiring.feed.latestSeq
    val bs = w.wiring.feed.range(0L, n)
    val i = bs.lastIndexWhere(_.block.hash.toSeq == hash)
    if (i < 0) None else Some(i.toLong)
  }

  /** Epoch ms at which the batch that carried `hash` committed. */
  private def commitMs(w: World, ps: Vector[BatchProgress], hash: Seq[Byte]): Option[Long] =
    seqOf(w, hash).flatMap { s =>
      val q = w.wiring.query.id.toString
      ps.filter(p => p.queryId == q && p.endOffset.nonEmpty && p.endOffset.toLong >= s + 1)
        .map(_.endMs).minOption
    }

  private def announceAndWait(w: World, gen: ChainGen, progress: ProgressLog): Unit = {
    w.stub.announce()
    val h = gen.head.get.block.hash.toSeq
    require(progress.await(CommitTimeoutMs)(ps => commitMs(w, ps, h).isDefined),
      "warm-up block never committed")
  }

  def run(spark: SparkSession, args: Args, progress: ProgressLog, tracer: Option[Tracer]): Outcome = {
    val gen = new ChainGen(args.seed, TxsPerBlock, Subscribers, Groups)

    // set-up: the world (stub, store seeding, Indexer.start) on a chain
    // as deep as a reorg; its first batch is the warm-up
    gen.extend(ReorgDepth)
    val w = startWorld(spark, gen, Files.createDirectories(args.workDir.resolve("head-follow")))
    announceAndWait(w, gen, progress)
    val setupEndMs = System.currentTimeMillis()

    // measured window: open-loop heads
    val intervalMs = (args.headIntervalS * 1000).toLong
    val nHeads = ((args.seconds * 1000L - 1) / intervalMs + 1).toInt // due inside the window
    val heads = mutable.ArrayBuffer.empty[Head]
    val calls0 = w.stub.rpcCalls; val bytes0 = w.stub.bytesIn.get + w.stub.bytesOut.get
    val store0 = Layer.files(w.dir.resolve("data"))
    System.gc() // no warm-up garbage carried into the window
    val t0 = System.currentTimeMillis() + 50
    (0 until nHeads).foreach { k =>
      val due = t0 + k * intervalMs
      val now = System.currentTimeMillis()
      if (due > now) Thread.sleep(due - now)
      if ((k + 1) % ReorgEvery == 0) gen.reorg(ReorgDepth) else gen.extend(1)
      val h = gen.head.get.block
      w.stub.announce()
      heads += Head(h.number, h.hash.toSeq, due, System.currentTimeMillis())
    }
    val last = heads.last
    val allIn = progress.await(CommitTimeoutMs)(ps => commitMs(w, ps, last.hash).isDefined)
    val ps = progress.all
    val commits = heads.map(h => commitMs(w, ps, h.hash))
    val tEnd = commits.flatten.maxOption.getOrElse(System.currentTimeMillis())
    val calls1 = w.stub.rpcCalls; val bytes1 = w.stub.bytesIn.get + w.stub.bytesOut.get
    val lags = heads.zip(commits).collect { case (h, Some(c)) => (c - h.dueMs) / 1e3 }
    val blocks = gen.height - heads.head.number + 1
    w.close()

    // reads on the settled store
    val lookups = new Lookups(spark.newSession(), w.dir.resolve("data").toString, gen, gen.height)
    val reader = new ReadLoop(lookups.session, Lookups.Kinds, args.seed)(lookups.one)
    val r0 = System.currentTimeMillis()
    reader.run(warm = 1, n = Reads)
    val r1 = System.currentTimeMillis()

    // output checks against the generator's record
    val store = TableStore(spark, w.dir.resolve("data").toString)
    val headOk = ChainIngest.loadHead(store).exists(_.hash == gen.head.get.block.hash.toSeq)
    def rows(t: String): Long = if (store.exists(t)) store.readOr(t, null).count() else 0L
    val counts = gen.expectedCounts.toSeq.sortBy(_._1).map { case (t, n) =>
      val got = rows(t)
      (s"rows $t = $n (got $got)", got == n)
    }
    val reorgRows = rows(ChainIngest.ReorgsTable)
    val balanceHead = BalanceIngest.processedThrough(store)
    val checks = Seq(
      ("every announced head committed", allIn),
      ("canonical head hash", headOk),
      (s"balance work through the head (${balanceHead.getOrElse(-1L)})", balanceHead.contains(gen.height)),
      (s"reorgs rows = ${gen.reorgs} (got $reorgRows)", reorgRows == gen.reorgs.toLong)) ++ counts

    val layer = tracer.map { tr =>
      val run = tr.newSpanId()
      tr.record(Span(run, 0L, "head-follow.window", t0, tEnd))
      heads.zip(commits).foreach { case (h, c) =>
        val id = tr.newSpanId()
        tr.record(Span(id, run, s"head.${h.number}", h.dueMs, c.getOrElse(tEnd)))
        Option(w.stub.fetchDoneMs.get(ChainGen.hex(h.hash.toArray)))
          .foreach(f => tr.record(Span(tr.newSpanId(), id, "sources.fetch", h.dueMs, f)))
      }
      reader.spans.foreach { case (s0, s1) => tr.record(Span(tr.newSpanId(), run, "read", s0, s1)) }
      val win = Window(t0, tEnd, heads.size.toDouble, reader.count, r0, r1,
        ps.filter(p => p.queryId == w.wiring.query.id.toString && p.startMs >= t0 && p.endMs <= tEnd))
      val (files1, bytes1s) = Layer.files(w.dir.resolve("data"))
      val fetch = heads.toSeq.zip(commits).flatMap { case (h, c) =>
        Option(w.stub.fetchDoneMs.get(ChainGen.hex(h.hash.toArray))).map(f => (f - h.dueMs, c.map(_ - h.dueMs)))
      }
      Layer.spark(tr, win) ++ Map(
        "chain.TableStore.data_files" -> files1.toDouble,
        "chain.TableStore.bytes_per_unit" -> (bytes1s - store0._2).toDouble / heads.size,
        "sources.rpc_calls_per_block" -> (calls1 - calls0).toDouble / blocks,
        "sources.rpc_bytes_per_block" -> (bytes1 - bytes0).toDouble / blocks,
        "sources.fetch_lag_s_p50" -> Stats.median(fetch.map(_._1 / 1e3)),
        "sources.fetch_span_frac" -> Stats.median(fetch.collect { case (f, Some(l)) if l > 0 => f.toDouble / l }),
        "sources.rpc_errors" -> w.stub.errors.get.toDouble,
        "bench.generator_late_s_max" -> heads.map(h => (h.sentMs - h.dueMs) / 1e3).max)
    }.map(Layer.complete(_)).getOrElse(Map.empty)

    val blocksPerS = blocks / math.max((tEnd - t0) / 1e3, 1e-3)
    Outcome(
      setupEndMs = setupEndMs,
      lagsS = lags.toSeq,
      readsMs = reader.latenciesMs,
      attempted = heads.size + reader.attempted + checks.size,
      failed = heads.size - lags.size + reader.failed + checks.count(!_._2),
      checks = checks,
      readFailures = reader.failures,
      layer = layer,
      report = Seq(
        "head_interval_s" -> Json.num(args.headIntervalS),
        "heads" -> heads.size.toString, "reorgs" -> gen.reorgs.toString,
        "head_lags_s" -> Json.arr(lags.toSeq.map(Json.num)),
        "head_lag_p50_s" -> Json.num(Stats.median(lags.toSeq)),
        "blocks_per_s" -> Json.num(blocksPerS),
        "generator_late_s_max" -> Json.num(heads.map(h => (h.sentMs - h.dueMs) / 1e3).max)))
  }

  /** The `ChainStore` lookups the reader makes, each checked against the
    * generator. Only heights up to `top` are asked about.
    */
  object Lookups { val Kinds = 7 }

  final class Lookups(val session: SparkSession, data: String, gen: ChainGen, top: Long) {
    private def hashes(bn: Long): Seq[Seq[Byte]] =
      gen.byHash.values.filter(_.block.number == bn).map(_.block.hash.toSeq).toSeq

    /** Balance row matches the stub at some block of that height. */
    private def balanceOk(token: Array[Byte], r: Row): Boolean = {
      val bn = r.getAs[Long]("block_number")
      val got = BigInt(r.getAs[java.math.BigDecimal]("balance").toBigInteger)
      hashes(bn).exists(h => gen.balance(token, r.getAs[Array[Byte]]("address"), h.toArray) == got)
    }

    /** Runs one lookup; Some(description) when the answer is wrong. */
    def one(op: Int, rnd: scala.util.Random): Option[String] = {
      val bn = 1L + rnd.nextInt(top.toInt)
      val store = TableStore(session, data)
      def t(name: String) = store.readOr(name, null)
      val b = gen.at(bn)
      def cs(tables: (String, String)*): ChainStore = {
        val m = tables.toMap
        def f(k: String) = m.get(k).map(t).orNull
        ChainStore(f("h"), f("t"), f("r"), f("l"), null, null, f("a"), f("s"), null, null)
      }
      def bad(cond: Boolean, what: => String): Option[String] = if (cond) None else Some(what)
      op match {
        case 0 =>
          val rows = cs("h" -> ChainIngest.HeadersTable).findBlockByNumber(bn).collect()
          bad(rows.length == 1 && rows(0).getAs[Array[Byte]]("hash").toSeq == b.block.hash.toSeq,
            s"findBlockByNumber($bn) returned ${rows.length} rows")
        case 1 =>
          val rows = cs("h" -> ChainIngest.HeadersTable).findBlockByHash(b.block.hash).collect()
          bad(rows.length == 1 && rows(0).getAs[Long]("number") == bn, s"findBlockByHash(#$bn)")
        case 2 =>
          val tx = b.block.transactions(rnd.nextInt(b.block.transactions.size))
          val rows = cs("t" -> ChainIngest.TxTable).findTransaction(tx.hash).collect()
          bad(rows.length == 1 && rows(0).getAs[Long]("block_number") == bn, s"findTransaction in #$bn")
        case 3 =>
          val r = b.receipts(rnd.nextInt(b.receipts.size))
          val c = cs("r" -> ChainIngest.ReceiptsTable, "l" -> ChainIngest.LogsTable)
          val rs = c.findReceipt(r.txHash).collect()
          val ls = c.findReceiptLogs(r.txHash).collect()
          bad(rs.length == 1 && ls.length == r.logs.size, s"findReceipt/Logs in #$bn: ${rs.length}/${ls.length}")
        case 4 =>
          // an address whose ether moved in block bn must have a snapshot in [bn, top]
          val subscribed = gen.subs.map(_._3.toSeq).toSet
          b.transferLogs.flatMap(l => Seq(l.from, l.to)).find(a => subscribed(a.toSeq)) match {
            case None => None
            case Some(a) =>
              val rows = cs("a" -> BalanceIngest.AccountsTable).findAccount(ChainGen.EthToken, a, top).collect()
              bad(rows.length == 1 && rows(0).getAs[Long]("block_number") >= bn &&
                rows(0).getAs[Long]("block_number") <= top && balanceOk(ChainGen.EthToken, rows(0)),
                s"findAccount(eth, touched at #$bn, as of #$top) returned ${rows.map(_.getAs[Long]("block_number")).mkString(",")}")
          }
        case 5 =>
          val token = (ChainGen.EthToken +: gen.tokens)(rnd.nextInt(3))
          val addrs = (0 until 5).map(_ => gen.subs(rnd.nextInt(gen.subs.size))._3)
          val rows = cs("a" -> BalanceIngest.AccountsTable).findLatestAccounts(token, addrs).collect()
          bad(rows.forall(balanceOk(token, _)), "findLatestAccounts balance mismatch")
        case _ =>
          val g = 1L + rnd.nextInt(gen.nGroups)
          val ids = gen.groupIds(g).sorted
          val pages = (ids.size + 49) / 50
          val page = 1 + rnd.nextInt(pages)
          val rows = cs("s" -> BalanceIngest.SubsTable).listSubscriptions(g, page, 50).collect()
          val want = ids.slice((page - 1) * 50, page * 50)
          bad(rows.map(_.getAs[Long]("id")).toSeq == want, s"listSubscriptions($g, $page)")
      }
    }
  }
}
