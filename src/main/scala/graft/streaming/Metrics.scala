package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.nio.file.{Files, Paths, StandardOpenOption}

/** C5 analog: the reference exposes Prometheus counters + a web admin
  * (reference: metrics/metrics.go:41-223, web/router.go:64-126). Here a
  * `StreamingQueryListener` appends one JSON line per micro-batch progress
  * (rows/sec, batch duration, offsets) to a metrics log, complementing the
  * per-commit lineage read from the table's manifest segments — both
  * queryable as DataFrames (`spark.read.json(metricsPath)` /
  * `table.lineage()`).
  */
object Metrics {

  final class JsonlListener(path: String) extends StreamingQueryListener {
    // a bare relative filename has a null parent — nothing to create then
    Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      append(s"""{"event":"started","id":"${e.id}","ts":"${e.timestamp}"}""")
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      append(e.progress.json)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      append(s"""{"event":"terminated","id":"${e.id}"}""")
    private def append(line: String): Unit = synchronized {
      Files.write(Paths.get(path), (line + "\n").getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
  }

  /** Attach a JSONL progress listener; returns it for later removal. */
  def attach(spark: SparkSession, path: String): JsonlListener = {
    val l = new JsonlListener(path)
    spark.streams.addListener(l)
    l
  }

  def detach(spark: SparkSession, l: JsonlListener): Unit =
    spark.streams.removeListener(l)
}
