package graft.sources

import graft.lake.LakeTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** `spark.readStream.format("graft").load(dir)` — tail a lake table's
  * COMMITS as a change stream, so downstream consumers (a second pipeline, a
  * search indexer, an aggregate maintainer) follow the table without the
  * Scala API — the read-side sibling of the engine's changefeed routes
  * (reference: the MQ sinks ARE this tail for the reference's users,
  * service/endpoint/kafka.go:49-77).
  *
  * Offsets = committed table VERSIONS (one [[LongOffset]] per metadata
  * version), so the checkpoint contract is exactly the table's own commit
  * history: each micro-batch emits the delta rows added by versions
  * `(start, end]`, resume is a version range replay, and a killed consumer
  * continues from its checkpointed version without duplicates or gaps.
  *
  * Emitted schema: the table's row columns (pinned at source creation) plus
  * `_op` ("upsert" | "delete") and `_pos` (the change's applied position).
  * Per-key collapsing is NOT applied — this is the raw change log (losers of
  * intra-batch LWW ride along, as in any CDC feed); a consumer wanting
  * final-state rows takes max-by `_pos` per key, or just reads the table.
  *
  * Scale/caveats:
  *   - reads ONLY the per-commit delta files ([[LakeTable.addedFilesBetween]]
  *     reads each version's own commit record from its segment, so a delta
  *     already folded away by compaction inside the polled range is still
  *     emitted — data files are immutable until vacuum). A tail must keep up
  *     within the vacuum retention window, the standard CDC log-retention
  *     contract. A range that crosses a snapshot segment written by an
  *     earlier build (one without its own commit record) fails with that
  *     version; `vacuum(1)` re-anchors such a table.
  *   - every merge, [[graft.streaming.Bootstrap]]'s stock load included,
  *     lands its rows as delta files, so a fresh `startingVersion` 1 replay
  *     of a table whose history is retained starts complete. (A table
  *     written by an earlier build may hold copy-on-write commits, whose
  *     base files no tail emits: bootstrap its downstream instead.)
  *   - schema is pinned at source creation; restart the stream to pick up
  *     evolved columns (the same rule as every file-based Spark source).
  *
  * Options: `startingVersion` (default: the CURRENT version — tail from now;
  * pass 1 to also replay the table's full retained history).
  */
final class GraftStreamSource(spark: SparkSession, path: String,
    params: Map[String, String]) extends Source {

  private val table = LakeTable.load(spark, path)
  private val startVersion: Int =
    params.get("startingversion").orElse(params.get("startingVersion"))
      .map(_.toInt).getOrElse(table.meta.version)
  private val pinned: StructType = table.meta.schema

  override val schema: StructType = GraftStreamSource.changeSchema(pinned)

  private def versionOf(o: org.apache.spark.sql.connector.read.streaming.Offset): Int =
    o match {
      case LongOffset(v) => v.toInt
      case v1: V1Offset => v1.json.trim.toInt // SerializedOffset from the WAL
      case other => other.json.trim.toInt
    }

  /** ALWAYS the current version — the engine compares it against the last
    * processed offset (checkpointed across restarts), so gating on this
    * instance's `startVersion` here would hide commits that landed while a
    * checkpointed consumer was down. `startVersion` only anchors the very
    * first batch of a FRESH checkpoint (`getBatch(start = None, …)`).
    */
  override def getOffset: Option[V1Offset] =
    Some(LongOffset(table.refresh().version.toLong))

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val vs = start.map(versionOf).getOrElse(startVersion)
    val ve = versionOf(end)
    val files = table.addedFilesBetween(vs, ve).filter(_.kind == "delta")
    val m = table.metaAt(ve)
    val out = table.readFilesAligned(m, files).select(
      pinned.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq ++ Seq(
        when(col(table.DelCol), "delete").otherwise("upsert").as("_op"),
        col(table.PosCol).as("_pos")): _*)
    // stamp isStreaming on the computed plan (DSv1 getBatch contract)
    Bridge.streamingDataFrame(spark, out.queryExecution.toRdd, schema)
  }

  override def stop(): Unit = ()
}

object GraftStreamSource {
  def changeSchema(rowSchema: StructType): StructType =
    StructType(rowSchema.fields.toSeq ++ Seq(
      StructField("_op", StringType, nullable = false),
      StructField("_pos", LongType)))
}
