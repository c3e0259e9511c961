package graft.merge

import graft.core.{Timing, Types}
import graft.lake.{FileEntry, LakeTable, TableMeta, TableWriter, WrittenPart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.util.UUID

/** Counters tally EVENTS applied: the merge skips in-batch dedup (read-side
  * LWW picks the same winners), so a hot key with k events in one batch
  * counts k — the reference's Prometheus insert/update/delete counters count
  * exactly that, one tick per handled event (metrics.go ops counters).
  */
final case class MergeResult(epoch: Long, skipped: Boolean,
    upserted: Long, deleted: Long, replayed: Long, touchedBuckets: Int)

/** Key-partitioned MERGE INTO with last-writer-wins resolution — the
  * canonical apply shape of the reference's sinks (insert→put, update→set,
  * delete→remove, upsert on replay; reference:
  * service/endpoint/mongo.go:144-191, redis.go:225-268,
  * elastic7.go:292-306) expressed as one idempotent merge.
  *
  * Semantics (== the reference's single-threaded in-order apply,
  * service/handler.go:135-194, made explicit for a parallel engine):
  *   - within a batch, for each key only the event with the greatest
  *     (pos, ts, op-rank) survives (LWW; total order per SURVEY.md §7.5);
  *   - vs the existing table, the greater of (existing row's applied pos,
  *     batch event pos) wins — so replayed duplicate spans are no-ops;
  *   - insert and update both UPSERT (reference Lua mongo UPSERT,
  *     mongo.go:144-153); delete removes; delete-of-absent is tolerated
  *     (reference: elastic7.go:230-233 not_found ignored).
  *
  * Scale design (100 TB / 1000 executors): merge-on-read, ONE Spark job per
  * micro-batch — scan → bucket exchange → write delta row-version files,
  * with no join against the table (the batch is applied without reading
  * it). Commit cost is O(batch) regardless of table size (the Iceberg-v2
  * MOR shape): the metadata commit serializes only this commit's manifest
  * segment. Each write task writes ONE delta file holding its buckets and
  * returns per-bucket (rows, maxPos, tombstones) stats ([[TableWriter]]),
  * so the manifest gets one entry per bucket of each file with no footer
  * re-read. The write width is Spark's: the bucket exchange is a
  * `rebalance` hint, so adaptive execution coalesces a small batch into one
  * write task (one file) and splits a hot bucket over several, from the
  * shuffle bytes it measured. The read path resolves per-key LWW over
  * base+delta; [[compact]] folds deltas into base, amortizing read cost.
  *
  * Exactly-once: the (epoch, offset) fence rides in the same atomic commit
  * as the data. When a `pipelineId` is supplied, the fence is additionally
  * keyed to it — a batch numbered from a DIFFERENT checkpoint (fresh or
  * foreign) can never be silently fenced as a replay (that would drop
  * never-applied events); it either starts past the fence (adopted) or
  * fails fast unless `allowTakeover` is set.
  */
object MergeInto {
  import Types._

  /** LWW ordering: (pos, event ts with null→epoch-0, op rank). */
  private def ordCol: Column = struct(
    col("_pos"),
    coalesce(col("_event_ts"), lit(0L).cast("timestamp")),
    when(col("_op") === OpDelete, 2).when(col("_op") === OpUpdate, 1).otherwise(0))

  /** Keep exactly one event per key: the LWW winner. `salt` > 1 enables the
    * two-phase salted reduction (phase 1 per (key, salt), phase 2 per key);
    * the default single phase already combines map-side.
    */
  def lwwDedup(df: DataFrame, keyCols: Seq[String], salt: Int = 0): DataFrame = {
    val phase1 =
      if (salt > 1) {
        val salted = df.withColumn("_salt", pmod(xxhash64(col("_pos")), lit(salt)))
        val allS = struct(df.columns.map(col): _*)
        salted.groupBy((keyCols :+ "_salt").map(col): _*)
          .agg(max_by(allS, ordCol).as("_w")).select(col("_w.*"))
      } else df
    val all2 = struct(phase1.columns.filterNot(_ == "_salt").map(col): _*)
    phase1.groupBy(keyCols.map(col): _*)
      .agg(max_by(all2, ordCol).as("_w")).select(col("_w.*"))
  }

  /** Fence/adoption decision of a merge. Returns true when
    * the batch must be SKIPPED as a replay; throws on a cross-pipeline
    * conflict (different checkpoint identity, epoch at-or-below the fence).
    */
  private def fenced(m0: TableMeta, epoch: Long, pipelineId: String,
      allowTakeover: Boolean): Boolean = {
    // A pid-bearing pipeline attaching to a pid-LESS table is NOT the same
    // pipeline: the table's epochs came from some earlier pid-less writer
    // (batch CLI, replayer), and a fresh checkpoint restarts numbering at 0
    // — treating that as "same" would silently fence never-applied batches
    // (the exact loss this fence exists to prevent). Such an attach either
    // starts above the fence (normal handoff) or needs explicit takeover.
    // A pid-less CALLER on any table stays same-pipe: manual merges opt out
    // of identity checking and rely on epoch monotonicity alone.
    val samePipe = pipelineId.isEmpty || m0.lastPipelineId == pipelineId
    if (samePipe) epoch <= m0.lastEpoch
    else if (epoch > m0.lastEpoch || allowTakeover) false // adopt the new pipeline
    else throw new IllegalStateException(
      s"batch $epoch arrived from pipeline '$pipelineId' but the table was last " +
        s"written by '${m0.lastPipelineId}' at epoch ${m0.lastEpoch}: a fresh/foreign " +
        "checkpoint restarts batch numbering, so fencing this batch as a replay " +
        "would silently drop never-applied events. Resume with the original " +
        "checkpoint, or pass allowTakeover=true / use set-offset to rebind.")
  }

  private def pidOr(latest: TableMeta, pipelineId: String): String =
    if (pipelineId.nonEmpty) pipelineId else latest.lastPipelineId

  /** Merge one micro-batch (decoded merge-input layout: `_op,_pos,_event_ts`
    * [,`_schema_id`] + row columns) into `table`, committing `(epoch,
    * maxPos)` atomically with the snapshot. Replayed epochs (epoch <=
    * table.lastEpoch, same pipeline) are fenced to no-ops — exactly-once
    * table state even when Structured Streaming re-runs a batch after a
    * crash.
    *
    * `batchSchemaId`: the registry schema the batch rows are shaped as
    * (defaults to the table's current schema). If the batch carries
    * `_schema_id`, the observed watermark evolves the table in the same
    * commit (OnTableChanged analog — reference: service/handler.go:56-62).
    */
  def merge(table: LakeTable, batch: DataFrame, epoch: Long,
      registry: Map[Int, StructType] = Map.empty,
      batchSchemaId: Int = -1,
      pipelineId: String = "",
      allowTakeover: Boolean = false): MergeResult = {
    val m0 = table.refresh()
    if (fenced(m0, epoch, pipelineId, allowTakeover))
      return MergeResult(epoch, skipped = true, 0, 0, 0, 0)
    val keyCols = m0.keyCols
    val hasSid = batch.columns.contains("_schema_id")
    val sid = if (batchSchemaId >= 0) batchSchemaId else m0.schemaId
    val fileSchema = registry.getOrElse(sid,
      if (sid == m0.schemaId) m0.schema
      else m0.schemaFor(sid))

    // No in-batch dedup: positions are unique, so the read-side LWW resolve
    // picks the same winner whether or not intra-batch losers are written.
    // Skipping the groupBy saves a full shuffle+aggregate of every batch —
    // the merge is scan → one bucket exchange → write. (Delta files carry
    // the losers until compaction folds them.)
    val isDel = col("_op") === OpDelete
    val batchCols = batch.columns.toSet

    // ONE job: project to the storage layout (batch schema; delete winners
    // become tombstone rows — key + pos, payload nulled, `_graft_del` true;
    // null on upserts), shuffle by bucket, and write ONE delta file per
    // write task; the tasks count the commit's stats while writing.
    // a table that never applied an epoch has nothing to replay: its
    // lastOffset (-1) would count every bootstrap row (pos -1) as a replay
    val replayAtOrBelow = if (m0.lastEpoch == Long.MinValue) Long.MinValue else m0.lastOffset
    val commitRel = s"data/${UUID.randomUUID().toString.take(12)}"
    val parts = Timing.timed("  mor-write") {
      val stored = batch.select(
          (fileSchema.fields.map { f =>
            val base =
              if (!batchCols.contains(f.name)) lit(null)
              else if (keyCols.contains(f.name)) col(f.name)
              else when(isDel, lit(null)).otherwise(col(f.name))
            base.cast(f.dataType).as(f.name)
          }.toSeq
            :+ col("_pos").as(table.PosCol)
            :+ col("_event_ts").as(table.TsCol)
            :+ when(isDel, lit(true)).as(table.DelCol)) ++
          (if (hasSid) Seq(col("_schema_id").cast("int").as(TableWriter.SchemaIdCol)) else Nil): _*)
        .withColumn(TableWriter.BucketCol, table.bucketExpr(m0.numBuckets, m0.bucketCols))
      // AQE sizes the exchange from its measured shuffle bytes: a small
      // batch coalesces into one task (one file), a hot bucket is split
      TableWriter.write(table, stored.hint("rebalance", col(TableWriter.BucketCol)),
        commitRel, replayAtOrBelow)
    }
    val nDedup = parts.map(_.rows).sum
    if (nDedup == 0) { // empty batch: advance the fence only
      table.commitAtomic(latest => latest.nextSegment("merge-empty", epoch = epoch)
        .copy(lastPipelineId = pidOr(latest, pipelineId)))
      return MergeResult(epoch, skipped = false, 0, 0, 0, 0)
    }
    val nDeletes = parts.map(_.tombstones).sum
    val maxPos = parts.map(_.maxPos).max
    val nReplays = parts.map(_.replays).sum
    val maxSid = if (hasSid) parts.map(_.maxSid).max else sid

    val newFiles = entries(parts, sid, "delta")
    val touched = newFiles.map(_.bucket).distinct.size

    // append-only commit, rebased onto whatever the async compactor may
    // have published meanwhile; schema registration + in-flight evolution
    // land in the SAME atomic commit as the data
    table.commitAtomic { latest =>
      // the schemas this commit registers: the files' own and the evolved
      // one, each unless the table already holds it (the fold adds them to
      // the table's map)
      var registers = Map.empty[String, String]
      if (!latest.schemas.contains(sid.toString))
        registers += sid.toString -> fileSchema.json
      var schemaId = latest.schemaId
      if (maxSid > schemaId) {
        val target = registry.getOrElse(maxSid, throw new IllegalStateException(
          s"batch carries schema_id $maxSid but registry has no schema for it"))
        LakeTable.checkCompatible(latest.schema, target)
        if (!latest.schemas.get(maxSid.toString).contains(target.json))
          registers += maxSid.toString -> target.json
        schemaId = maxSid
      }
      latest.nextSegment(s"merge-mor:buckets=$touched:rows=$nDedup", epoch, maxPos,
        replayed = nReplays, upserted = nDedup - nDeletes, deleted = nDeletes).copy(
        lastOffset = math.max(latest.lastOffset, maxPos),
        lastPipelineId = pidOr(latest, pipelineId),
        schemaId = schemaId, schemas = registers, addedFiles = newFiles)
    }

    MergeResult(epoch, skipped = false, upserted = nDedup - nDeletes,
      deleted = nDeletes, replayed = nReplays, touchedBuckets = touched)
  }

  // ----------------------------------------------------------- maintenance

  /** Fold delta files into resolved base files (MOR maintenance). Keeps
    * tombstones (they defend against replayed-old-insert resurrection;
    * `gcBelowPos` may drop those whose pos is provably below any
    * replayable offset). Pure maintenance: epoch/offset fences unchanged —
    * except `lastCompactOffset`, which records the resolved snapshot's
    * applied offset so the NEXT compaction can GC below it (see
    * [[maybeCompactAsync]]).
    *
    * Tombstone-GC safety contract: a tombstone at pos p only matters against
    * a redelivered (at-least-once upstream) event of the same key with pos
    * < p — fresher events legitimately win LWW, and whole-batch replays from
    * the engine's own checkpoint are already fenced at (pipelineId, epoch)
    * level and never reach the table. The auto path GCs below the PREVIOUS
    * compaction's applied-offset watermark, i.e. a tombstone survives at
    * least one full compaction cycle (deltaRows ≥ ratio × baseRows of stream
    * progress) after it was applied; upstream redelivery horizons (the
    * reference replays at most from its last saved position,
    * service/handler.go:173-191) are orders of magnitude shorter. A source
    * that can redeliver events older than a full compaction cycle should
    * raise `auto_compact_min_rows` (`autoCompactMinRows`) so high that the
    * auto path never fires, and compact with `Main compact <table>` given
    * no watermark, which GCs nothing.
    *
    * Commit is REBASE-safe against concurrent MOR merges (the Iceberg
    * RewriteDataFiles shape): the rewrite resolves the file set of snapshot
    * v; if merges appended deltas meanwhile, the commit retries as
    * (latest.files − inputs) + newBaseFiles — sound because MOR merges only
    * ADD files and LWW resolution is order-independent (max pos wins
    * regardless of which file holds it).
    */
  def compact(table: LakeTable, gcBelowPos: Long = Long.MinValue): Unit = {
    val m = table.refresh()
    // SELECTIVE: only buckets that carry delta files are resolved and
    // rewritten — compaction cost is proportional to churn, not table size
    // (a 100 TB table with a hot 1% rewrites 1%). Pure-base buckets are
    // untouched and already read shuffle-free. Every bucket of a shared
    // delta file carries a delta, so whole files leave the manifest.
    val deltaBuckets = m.files.filter(_.kind == "delta").map(_.bucket).toSet
    if (deltaBuckets.isEmpty) return
    val inputs = m.files.filter(f => deltaBuckets.contains(f.bucket))
    val bucket = table.bucketExpr(m.numBuckets, m.bucketCols)
    val resolved = table.resolve(m, inputs)
      .where(!col(table.DelCol) || col(table.PosCol) >= gcBelowPos)
      .withColumnRenamed(table.DelCol, TableWriter.SplitDelCol)
      .withColumn(TableWriter.BucketCol, bucket)
    val commitRel = s"data/${UUID.randomUUID().toString.take(12)}"
    val parts = Timing.timed("  compact-write")(TableWriter.write(table, resolved
      .hint("rebalance", col(TableWriter.BucketCol))
      .sortWithinPartitions(TableWriter.BucketCol, TableWriter.SplitDelCol), commitRel))
    val newFiles = entries(parts, m.schemaId, "base")
    // rebase: keep any delta files appended since `m` was resolved
    table.commitAtomic { latest =>
      require(inputs.toSet.subsetOf(latest.files.toSet),
        "compaction inputs vanished — concurrent non-append commit")
      latest.nextSegment(s"compact:files=${parts.map(_.path).distinct.size}:gcBelow=$gcBelowPos")
        .copy(
          // watermark for the NEXT compaction's tombstone GC: the offset of
          // the snapshot THIS compaction resolved (≤ latest.lastOffset —
          // conservative under concurrent merges); monotone under manual +
          // auto interleaving
          lastCompactOffset = math.max(latest.lastCompactOffset, m.lastOffset),
          removedPaths = inputs.map(_.path).distinct,
          addedFiles = newFiles)
    }
  }

  /** Non-blocking compaction trigger: fires [[compact]] on a daemon thread,
    * at most one in flight PER TABLE (keyed by table root — a JVM-global flag
    * would let one table's compaction starve every other route's in a
    * multi-table pipeline) — ingest keeps streaming while maintenance folds
    * deltas (async table services, as on a real lake).
    */
  private val compacting =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  def maybeCompactAsync(table: LakeTable, ratio: Double, minRows: Long): Boolean = {
    val m = table.meta
    val deltaRows = m.files.filter(_.kind == "delta").map(_.rows).sum
    val baseRows = m.files.filter(_.kind == "base").map(_.rows).sum
    val due = deltaRows >= minRows && deltaRows >= ratio * baseRows
    if (!due || compacting.putIfAbsent(table.root.toString, java.lang.Boolean.TRUE) != null)
      return false
    // replay-safe tombstone GC (see compact's contract): drop tombstones
    // below the PREVIOUS compaction's applied-offset watermark — without
    // this a delete-heavy stream accumulates tombstone rows forever (a slow
    // leak at the 10^10-event regime). -1 on a never-compacted table GCs
    // nothing; the watermark is persisted in the table meta so it survives
    // restarts.
    val t = new Thread(() =>
      try compact(table, gcBelowPos = m.lastCompactOffset)
      catch { case e: Throwable =>
        System.err.println(s"[graft] async compaction failed (will retry later): $e")
      } finally { compacting.remove(table.root.toString); () }, "graft-compactor")
    t.setDaemon(true)
    t.start()
    true
  }

  /** Block until no async compaction is in flight — all tables, or one. */
  def awaitCompaction(): Unit = { while (!compacting.isEmpty) Thread.sleep(50) }
  def awaitCompaction(table: LakeTable): Unit =
    while (compacting.containsKey(table.root.toString)) Thread.sleep(50)

  /** Manifest entries of a write: one per (file, bucket) it wrote. */
  private def entries(parts: Seq[WrittenPart], schemaId: Int, kind: String): List[FileEntry] =
    parts.map(p => FileEntry(p.bucket, p.path, p.rows, schemaId, kind,
      p.del.getOrElse(false), p.maxPos,
      delRows = if (p.del.isEmpty) p.tombstones else -1L)).toList
}
