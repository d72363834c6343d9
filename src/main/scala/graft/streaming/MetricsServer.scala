package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress

/** Plaintext metrics scrape endpoint — the ops surface the reference serves
  * when `--metrics` is set (cmd/indexer/root.go:106-121, default port
  * 9092): GET /metrics renders the [[IngestMetrics]] counters in the
  * Prometheus text exposition format, over the JDK's own HttpServer (no
  * codec or server dependency, same zero-dependency discipline as the RPC
  * feeds). Compose next to [[FullIngest.start]] exactly as the reference
  * composes its metrics listener next to the indexer loop:
  *
  * {{{
  * val m = new IngestMetrics
  * val srv = MetricsServer.start(m, port = 9092) // port 0 = ephemeral
  * val q = FullIngest.start(bundles, store, client, ckpt, metrics = Some(m))
  * // ... scrape http://host:9092/metrics ...
  * srv.close()
  * }}}
  *
  * Reads are lock-free snapshots of the driver-side atomics — a scrape
  * never takes a Spark job, never blocks the ingest loop.
  */
final class MetricsServer private (server: HttpServer) {
  /** The actually-bound port (differs from the requested one when 0). */
  def port: Int = server.getAddress.getPort
  def close(): Unit = server.stop(0)
}

object MetricsServer {

  def start(metrics: IngestMetrics, port: Int = 9092): MetricsServer =
    start(() => render(metrics), port)

  /** Generic face: serve any render thunk (the pipeline runner's metrics
    * are a different counter set than the chain indexer's).
    */
  def start(renderBody: () => String, port: Int): MetricsServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/metrics", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = renderBody().getBytes("UTF-8")
        try {
          ex.getResponseHeaders.set("Content-Type",
            "text/plain; version=0.0.4; charset=utf-8")
          ex.sendResponseHeaders(200, body.length.toLong)
          val os = ex.getResponseBody
          try os.write(body) finally os.close()
        } finally ex.close()
      }
    })
    server.setExecutor(null) // scrape traffic: serve on the dispatch thread
    server.start()
    new MetricsServer(server)
  }

  /** The Prometheus text form: `graft_`-prefixed counters/gauges plus the
    * `insert_block` and `fetch_block` latency histograms with cumulative
    * `le` buckets — the shape every scraper ingests natively — and the
    * per-table `graft_table_files` gauge. The scalars and histograms are
    * kept in lockstep with [[IngestMetrics.snapshot]] (the
    * queryable-DataFrame face of the same numbers).
    */
  def render(m: IngestMetrics): String = {
    val sb = new StringBuilder
    def num(v: Double): String =
      if (v == v.floor && math.abs(v) < 1e15) v.toLong.toString
      else "%.6f".formatLocal(java.util.Locale.ROOT, v)
    def metric(name: String, kind: String, v: Double): Unit = {
      sb.append("# TYPE ").append(name).append(' ').append(kind).append('\n')
      sb.append(name).append(' ').append(num(v)).append('\n')
    }
    metric("graft_new_block", "counter", m.newBlock.get().toDouble)
    metric("graft_reorg", "counter", m.reorg.get().toDouble)
    metric("graft_retracted_blocks", "counter", m.retractedBlocks.get().toDouble)
    metric("graft_new_subscription", "counter", m.newSubscription.get().toDouble)
    metric("graft_changed_account_per_block", "gauge",
      m.changedAccountPerBlock.get().toDouble)
    metric("graft_rpc_failover", "counter", m.rpcFailover.get().toDouble)
    renderHistogram(sb, "graft_insert_block_seconds", m.insertBlock)
    renderHistogram(sb, "graft_fetch_block_seconds", m.fetchBlock)
    renderTableGauge(sb, "graft_table_files", m.tableFiles)
    sb.toString
  }

  /** One gauge labelled by table, in table order; nothing when empty. */
  def renderTableGauge(sb: StringBuilder, name: String, v: collection.Map[String, Long]): Unit =
    if (v.nonEmpty) {
      sb.append("# TYPE ").append(name).append(" gauge\n")
      v.toSeq.sorted.foreach { case (t, n) =>
        sb.append(name).append("{table=\"").append(t).append("\"} ").append(n).append('\n')
      }
    }

  /** One Prometheus histogram block (TYPE, cumulative `le` buckets incl.
    * +Inf, _sum, _count) — shared by every metrics face so the exposition
    * format can't drift between endpoints.
    */
  def renderHistogram(sb: StringBuilder, name: String, h: LatencyHistogram): Unit =
    renderHistogram(sb, name, "", Seq("" -> h))

  /** One histogram family with one series per value of `label` (no label
    * when `label` is empty); nothing when `series` is empty.
    */
  def renderHistogram(sb: StringBuilder, name: String, label: String,
                      series: Seq[(String, LatencyHistogram)]): Unit = if (series.nonEmpty) {
    def num(v: Double): String =
      if (v == v.floor && math.abs(v) < 1e15) v.toLong.toString
      else "%.6f".formatLocal(java.util.Locale.ROOT, v)
    sb.append("# TYPE ").append(name).append(" histogram\n")
    series.foreach { case (v, h) =>
      def line(suffix: String, le: Option[String], value: Any): Unit = {
        val ls = Option.when(label.nonEmpty)(s"""$label="$v"""").toSeq ++ le.map(b => s"""le="$b"""")
        sb.append(name).append(suffix).append(if (ls.isEmpty) "" else ls.mkString("{", ",", "}"))
          .append(' ').append(value).append('\n'): Unit
      }
      val cumulative = h.bucketCounts.scanLeft(0L)(_ + _).tail
      (h.bounds.map(_.toString) :+ "+Inf").zip(cumulative).foreach { case (b, c) =>
        line("_bucket", Some(b), c)
      }
      line("_sum", None, num(h.sumSeconds))
      line("_count", None, h.count)
    }
  }
}
