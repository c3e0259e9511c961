package graft.streaming

import graft.lake.LakeTable

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress

/** Live metrics endpoint — the analog of the reference's Prometheus exporter
  * + web-admin status routes (reference: metrics/metrics.go:41-223,
  * web/router.go:64-126), built on the JDK's embedded HTTP server (no
  * dependencies). Serves:
  *
  *  - `GET /metrics` — Prometheus text format: per-table version, fence
  *    epoch/offset, file/row counts, upsert/delete/replay totals summed
  *    over the retained commit history;
  *  - `GET /status`  — the same as one JSON object.
  *
  * Reads only the in-memory `TableMeta` (refreshing first), so a scrape
  * never touches Spark or the data files.
  */
final class MetricsServer(tables: Map[String, LakeTable], port: Int = 0) {
  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  def boundPort: Int = server.getAddress.getPort

  def start(): MetricsServer = {
    server.createContext("/metrics", handler(prometheus _, "text/plain; version=0.0.4"))
    server.createContext("/status", handler(statusJson _, "application/json"))
    server.setExecutor(null)
    server.start()
    this
  }

  def stop(): Unit = server.stop(0)

  private def handler(body: () => String, contentType: String): HttpHandler =
    (exchange: HttpExchange) => {
      // a throwing body (e.g. refresh() after the table dir vanished) must
      // still answer — an escaped exception drops the exchange and hangs the
      // scraper until its timeout
      val (code, bytes, ct) =
        try (200, body().getBytes("UTF-8"), contentType)
        catch {
          case scala.util.control.NonFatal(e) =>
            (500, s"scrape failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
              .getBytes("UTF-8"), "text/plain")
        }
      exchange.getResponseHeaders.set("Content-Type", ct)
      exchange.sendResponseHeaders(code, bytes.length)
      val os = exchange.getResponseBody
      try os.write(bytes) finally os.close()
    }

  /** Escapes for BOTH output formats this server emits: Prometheus label
    * values need \\ \" \n; the JSON endpoint additionally forbids any raw
    * control char (< 0x20), so those become \u-escapes (valid in both).
    */
  private def esc(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    }

  private def rows(): Seq[(String, graft.lake.TableMeta)] =
    tables.toSeq.sortBy(_._1).map { case (n, t) => n -> t.refresh() }

  private def prometheus(): String = {
    val sb = new StringBuilder
    def gauge(name: String, help: String, vals: Seq[(String, Long)]): Unit = {
      sb.append(s"# HELP $name $help\n# TYPE $name gauge\n")
      vals.foreach { case (tbl, v) =>
        sb.append(s"""$name{table="${esc(tbl)}"} $v""").append('\n') }
    }
    val ms = rows()
    gauge("graft_table_version", "current committed table version",
      ms.map { case (n, m) => n -> m.version.toLong })
    gauge("graft_last_epoch", "exactly-once fence epoch",
      ms.map { case (n, m) => n -> m.lastEpoch })
    gauge("graft_last_offset", "applied change-log offset watermark",
      ms.map { case (n, m) => n -> m.lastOffset })
    gauge("graft_data_files", "live data files (parquet files, not bucket entries)",
      ms.map { case (n, m) => n -> m.dataFiles.toLong })
    gauge("graft_live_rows", "rows across live files (incl. unresolved deltas)",
      ms.map { case (n, m) => n -> m.files.map(_.rows).sum })
    gauge("graft_rows_upserted_total", "upserted events recorded in retained history",
      ms.map { case (n, m) => n -> m.history.map(_.upserted).sum })
    gauge("graft_rows_deleted_total", "deleted events recorded in retained history",
      ms.map { case (n, m) => n -> m.history.map(_.deleted).sum })
    gauge("graft_replayed_total", "replayed events recorded in retained history",
      ms.map { case (n, m) => n -> m.history.map(_.replayed).sum })
    sb.toString
  }

  private def statusJson(): String =
    rows().map { case (n, m) =>
      s""""${esc(n)}":{"version":${m.version},"schemaId":${m.schemaId},""" +
        s""""lastEpoch":${m.lastEpoch},"lastOffset":${m.lastOffset},""" +
        s""""files":${m.dataFiles},"rows":${m.files.map(_.rows).sum}}"""
    }.mkString("{", ",", "}")
}
