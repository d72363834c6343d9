package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import graft.chain._
import graft.sources.{JsonRpcAccountClient, JsonRpcWsFeed}
import graft.streaming._

/** The deployable entry point — the analogue of the reference's
  * `cmd/indexer` binary (cmd/indexer/root.go:88-177): read a small config
  * file, subscribe the configured ERC20 tokens, and run the full
  * lifecycle — WebSocket `newHeads` feed → DSv2 bundle stream →
  * [[FullIngest]] (chain + reorg + balance pipeline) — with the
  * Prometheus metrics endpoint on the side.
  *
  * Config file: the flag surface of root.go:209-235 plus the
  * `configs/erc20.yaml` token map, as flat `key: value` lines —
  *
  * {{{
  * endpoints:
  *   - http://127.0.0.1:8545
  * ws:
  *   - ws://127.0.0.1:8546
  * dataDir: /var/lib/graft/data
  * checkpointDir: /var/lib/graft/checkpoint
  * fromBlock: 1
  * metricsPort: 9092          # <0 disables (the --metrics flag)
  * maxBlocksPerChunk: 50      # maxBlocksToInsert, indexer.go:39
  * reorgWindow: 512
  * newSubLimit: 990
  * master: local[*]
  * erc20:                     # configs/erc20.yaml — name: address
  *   usdt: "0xdAC17F958D2ee523a2206206994597C13D831ec7"
  * }}}
  *
  * Parsed with snakeyaml's SafeConstructor (plain maps/lists/scalars —
  * no object instantiation from untrusted config), so quoting, `#`
  * inside quoted values, and block/flow styles all behave like any YAML
  * tool the operator already uses. Unknown top-level keys are REJECTED:
  * a typo'd `reorgwindow:` must fail loudly at startup, not silently
  * run with the default.
  */
object Indexer {

  final case class Config(
      endpoints: Seq[String],
      wsUrls: Seq[String],
      dataDir: String,
      checkpointDir: String,
      erc20: Seq[(String, Array[Byte])] = Nil,
      fromBlock: Long = 1L,
      metricsPort: Int = 9092,
      maxBlocksPerChunk: Int = 50,
      reorgWindow: Long = 512L,
      newSubLimit: Int = 990,
      master: String = "local[*]")

  def parseConfig(text: String): Config = {
    import scala.jdk.CollectionConverters._
    val yaml = new org.yaml.snakeyaml.Yaml(
      new org.yaml.snakeyaml.constructor.SafeConstructor(
        new org.yaml.snakeyaml.LoaderOptions()))
    val root = yaml.load[java.util.Map[String, Object]](text)
    require(root != null, "empty config")
    val m = root.asScala.toMap
    val known = Set("endpoints", "ws", "dataDir", "checkpointDir", "erc20",
      "fromBlock", "metricsPort", "maxBlocksPerChunk", "reorgWindow",
      "newSubLimit", "master")
    val unknown = m.keySet -- known
    require(unknown.isEmpty,
      s"unknown config keys: ${unknown.toSeq.sorted.mkString(", ")}")
    def list(k: String): Seq[String] = m.get(k) match {
      case Some(l: java.util.List[_]) => l.asScala.map(String.valueOf).toSeq
      case Some(other) =>
        throw new IllegalArgumentException(s"config key '$k' must be a list, got: $other")
      case None => Nil
    }
    def str(k: String): String = m.get(k) match {
      case Some(v) if v != null => String.valueOf(v)
      case _ => throw new IllegalArgumentException(s"config key '$k' is required")
    }
    def opt[T](k: String, parse: String => T, d: T): T =
      m.get(k).map(v => parse(String.valueOf(v))).getOrElse(d)
    val erc20 = m.get("erc20") match {
      case Some(mm: java.util.Map[_, _]) => // snakeyaml yields LinkedHashMap: order kept
        mm.asScala.toSeq.map { case (n, a) =>
          // YAML 1.1 resolves an UNQUOTED 0x… scalar as a hex integer,
          // which String.valueOf would render in decimal — and decimal
          // digits parse as "valid hex", silently yielding a wrong
          // address. The stated contract is to fail loudly on operator
          // mistakes: only quoted strings are accepted.
          val addr = a match {
            case s: String => s
            case other => throw new IllegalArgumentException(
              s"erc20 address for '$n' must be a QUOTED string, got " +
                s"${if (other == null) "null" else other.getClass.getSimpleName} — " +
                "unquoted 0x… is resolved as a YAML integer")
          }
          String.valueOf(n) -> hexBytes(addr)
        }
      case Some(other) =>
        throw new IllegalArgumentException(s"config key 'erc20' must be a map, got: $other")
      case None => Nil
    }
    val base = Config(
      endpoints     = list("endpoints"),
      wsUrls        = list("ws"),
      dataDir       = str("dataDir"),
      checkpointDir = str("checkpointDir"),
      erc20         = erc20)
    base.copy(
      fromBlock         = opt("fromBlock", _.toLong, base.fromBlock),
      metricsPort       = opt("metricsPort", _.toInt, base.metricsPort),
      maxBlocksPerChunk = opt("maxBlocksPerChunk", _.toInt, base.maxBlocksPerChunk),
      reorgWindow       = opt("reorgWindow", _.toLong, base.reorgWindow),
      newSubLimit       = opt("newSubLimit", _.toInt, base.newSubLimit),
      master            = opt("master", identity, base.master))
  }

  private def hexBytes(s: String): Array[Byte] = {
    val h = s.stripPrefix("0x")
    require(h.length % 2 == 0, s"odd-length hex address: $s")
    val out = h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    require(out.length == 20, s"an address is 20 bytes, got ${out.length}: $s")
    out
  }

  /** Everything `start` wires, so an embedding caller (or the smoke spec)
    * can drive and tear down each piece.
    */
  final case class Wiring(
      query: StreamingQuery,
      metrics: IngestMetrics,
      feed: JsonRpcWsFeed,
      metricsServer: Option[MetricsServer],
      store: TableStore) {
    def close(): Unit = {
      try query.stop() finally {
        feed.stopSubscription()
        metricsServer.foreach(_.close())
      }
    }
  }

  /** SubscribeErc20Tokens (cmd/indexer/root.go:148-156 →
    * service/indexer SubscribeErc20Tokens): insert each configured token
    * NOT already in the registry as a PENDING row (block_number 0) with
    * its fetched metadata; the balance pipeline's admission path seeds it
    * at the next processed block. Already-registered tokens are left
    * untouched (duplicate-key tolerance, common/errors.go:48-57).
    */
  def subscribeErc20Tokens(spark: SparkSession, store: TableStore,
                           tokens: Seq[(String, Array[Byte])],
                           client: TokenMetadataClient): Unit = {
    if (tokens.isEmpty) return
    import spark.implicits._
    val want = tokens.map(_._2).toDF("address")
    val existing = Option(store.readOr(BalanceIngest.RegistryTable, null))
      .map(_.select("address", "block_number", "decimals", "name"))
    val fresh = existing
      .fold(want)(e => want.join(e.select("address"), Seq("address"), "left_anti"))
    val rows = TokenMetadata.resolve(fresh, 0L, client)
      .select(col("address"), col("block_number"), col("decimals"), col("name"))
    // one write either way: a replace of an absent table is a first write
    store.replace(BalanceIngest.RegistryTable, existing.fold(rows)(_.unionByName(rows)))
  }

  /** Wire the full deployment: store, live RPC clients, WS head feed,
    * metrics endpoint, and the streaming query. Does not block — `main`
    * awaits the query; tests drive `processAllAvailable` and `close()`.
    */
  def start(spark: SparkSession, cfg: Config): Wiring = {
    val store  = TableStore(spark, cfg.dataDir)
    val client = new JsonRpcAccountClient(cfg.endpoints)
    subscribeErc20Tokens(spark, store, cfg.erc20, client)

    val metrics = new IngestMetrics
    val feed = new JsonRpcWsFeed(cfg.endpoints, cfg.wsUrls, cfg.fromBlock,
      httpTimeoutMs = 30000, reconnectMs = 200L)
    feed.reportTo(metrics)
    val subId = s"indexer-${java.util.UUID.randomUUID()}"
    HeadSubscriptions.register(subId, feed)
    feed.startSubscription()

    val server =
      if (cfg.metricsPort < 0) None
      else Some(MetricsServer.start(metrics, cfg.metricsPort))

    val bundles = spark.readStream
      .format(classOf[BundleStreamProvider].getName)
      .option(BundleStream.SubscriptionOption, subId)
      .option(BundleStream.MaxBlocksOption, cfg.maxBlocksPerChunk.toString)
      .load()
    val query = FullIngest.start(bundles, store, client, cfg.checkpointDir,
      cfg.maxBlocksPerChunk, cfg.reorgWindow, cfg.newSubLimit,
      fetchBack = feed.byHash, metrics = Some(metrics))
    Wiring(query, metrics, feed, server, store)
  }

  /** The session `main` builds: `cfg.master`, shuffle partitions = cores. */
  def sessionSettings(cfg: Config): Map[String, String] =
    GraftSession.settings("graft-indexer", cfg.master, Runtime.getRuntime.availableProcessors)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Indexer <config.yaml>")
    val cfg = parseConfig(Files.readString(Paths.get(args(0))))
    val spark = GraftSession(sessionSettings(cfg))
    val wiring = start(spark, cfg)
    sys.addShutdownHook(wiring.close()) // the reference's SIGTERM path
    wiring.query.awaitTermination()
  }
}
