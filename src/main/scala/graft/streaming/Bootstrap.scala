package graft.streaming

import graft.core.Types
import graft.lake.LakeTable
import graft.merge.{MergeInto, MergeResult}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-snapshot bootstrap — the analog of the reference's `-stock` import
  * (reference: service/stock_service.go:59-158): load the base table into the
  * lake through the SAME merge sink, before the stream starts. The
  * reference's hand-rolled pagination + atomic page counter + Maxprocs
  * fan-out (stock_service.go:118-139,196-207) disappear into Spark's
  * parallel scan; the per-table success/total reconciliation
  * (stock_service.go:145-153) becomes the returned MergeResult counts.
  *
  * Bootstrap rows enter at pos = startPos (default -1), so every genuine
  * change event (pos ≥ 0) supersedes the snapshot under LWW — the stream can
  * even start concurrently-overlapping, as with the reference's
  * stock-then-incremental handoff.
  *
  * The load is one ordinary MOR merge at epoch -1: the stock rows land as
  * delta files, so a `format("graft")` tail from version 1 replays them like
  * any change. The stream's auto-compaction folds them into base once the
  * deltas reach `autoCompactMinRows`; after a CLI-only load, run
  * `Main compact`.
  */
object Bootstrap {
  val BootstrapEpoch: Long = -1L

  def run(table: LakeTable, snapshot: DataFrame, startPos: Long = -1L): MergeResult = {
    val rowCols = table.meta.schema.fieldNames.toSeq
    val asEvents = snapshot.select(
      (Seq(lit(Types.OpInsert).as("_op"), lit(startPos).as("_pos"),
        lit(null).cast("timestamp").as("_event_ts")) ++ rowCols.map(col)): _*)
    val r = MergeInto.merge(table, asEvents, BootstrapEpoch)
    // epoch -1 passes the fence only on a FRESH table (lastEpoch starts at
    // Long.MinValue): on a table the stream already wrote, the load would be
    // silently fenced as a replay and every snapshot-only key dropped —
    // surface that instead of returning upserted=0 as if it worked
    if (r.skipped) throw new IllegalStateException(
      s"bootstrap fenced: table at ${table.root} already has applied epochs " +
        s"(lastEpoch=${table.meta.lastEpoch}); bootstrap into a fresh table, " +
        "or replay the change log instead — change events supersede the " +
        "snapshot under LWW, not the other way around")
    r
  }
}
