package graft.merge

import graft.core.Types
import graft.lake.{CommitInfo, FileEntry, LakeTable, LineageEntry, TableMeta}
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import java.nio.file.Files
import java.util.UUID
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

/** Counter semantics differ by mode, deliberately: MOR skips in-batch dedup
  * (read-side LWW picks the same winners), so its counters tally EVENTS
  * applied — the reference's Prometheus insert/update/delete counters count
  * exactly that, one tick per handled event (metrics.go ops counters). COW
  * dedups before rewriting, so its counters tally post-LWW ROWS. A hot key
  * with k events in one batch therefore counts k in MOR and 1 in COW.
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
  * Scale design (100 TB / 1000 executors):
  *   - **merge-on-read (default)**: ONE Spark job per micro-batch — scan →
  *     partial-aggregated `max_by` LWW dedup (map-side combine collapses
  *     per-key duplicates before the exchange, so hot-conversation skew
  *     cannot overload a reducer) → write delta row-version files. Commit
  *     cost is O(batch) regardless of table size (the Iceberg-v2 MOR shape):
  *     the metadata commit serializes only this commit's manifest segment,
  *     and per-file (rows, maxPos) stats come from parquet footers read by a
  *     distributed job (driver-side only below a small file count). The read
  *     path resolves per-key LWW over base+delta; [[compact]] folds deltas
  *     into base, amortizing read cost.
  *   - **copy-on-write (option)**: rewrites touched buckets, producing
  *     resolve-free base files — right for low-churn tables / bootstrap.
  *     The TABLE side never shuffles: touched buckets come from the small
  *     deduped batch (manifest pruning) and matched/unmatched splitting uses
  *     broadcast semi/anti hash joins of the batch KEY SET.
  *   - an optional salted two-phase dedup bounds pathological single-key
  *     floods (SURVEY.md §7.5).
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

  private val debugTiming = sys.env.contains("GRAFT_TIMING")
  private def timed[T](tag: String)(f: => T): T = {
    if (!debugTiming) f
    else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[timing]   $tag ${(System.nanoTime() - t0) / 1e9}%.3fs")
      r
    }
  }

  /** Broadcast the batch key set below this many deduped rows (COW path). */
  val BroadcastKeyLimit = 4000000L

  /** Footer-stat collection moves off the driver above this many files.
    * A parquet footer read is ~1-2 ms of pure namespace+footer I/O; the
    * driver's parallel-collection path handles a few hundred in tens of ms,
    * while the distributed fallback pays a fixed ~0.3 s job round-trip per
    * commit (measured on the replay bench: `footers 0.296s` per batch at 64
    * write partitions). 256 keeps every normal micro-batch commit on the
    * driver; only genuinely wide commits (1000-executor compactions) take
    * the job path.
    */
  val DriverFooterLimit = 256

  /** Writer-wave fanout: enough (bucket, salt) partitions for ≥16 waves per
    * core so stragglers amortize; 1 when buckets already dominate cores.
    */
  private def writeFanout(table: LakeTable, numBuckets: Int): Int = {
    val cores = table.spark.sparkContext.defaultParallelism
    // prefer sizing numBuckets ≥ 4×cores instead of salting: salt multiplies
    // files per bucket; fanout only kicks in for very coarse tables
    math.max(1, (4 * cores + numBuckets - 1) / numBuckets)
  }
  /** Salt MODULUS for a write of `width` partitions: the file count per
    * commit is the number of distinct (bkt, salt, del) combos — NOT the
    * partition count — so the salt must scale with the width actually
    * chosen, or a small batch through a narrow exchange still shatters into
    * buckets × fanout × 2 files (the round-2 q01 profile measured 196
    * files/commit from exactly this: width 16, but salt modulus fixed at 8).
    */
  private def saltModulus(width: Int, numBuckets: Int): Int =
    math.max(1, width / numBuckets)
  private def writeSalt(table: LakeTable, width: Int, numBuckets: Int) =
    pmod(xxhash64(col(table.PosCol)), lit(saltModulus(width, numBuckets)))

  /** Rows a single write task should own before fanning out further. */
  val TargetRowsPerWriteTask = 100000L

  /** Write-exchange width. Full bucket×fanout width amortizes stragglers on
    * big batches; a `rowsHint` (the caller's batch size, or
    * [[estimateRows]]) scales the width DOWN for small batches — a 10k-row
    * trigger through 144 partitions writes ~250 near-empty parquet files per
    * commit, which costs more in writer open/close + footer stats + manifest
    * growth + read-side task scheduling than the write itself.
    */
  private def writePartitions(table: LakeTable, numBuckets: Int, rowsHint: Long): Int = {
    val full = numBuckets * writeFanout(table, numBuckets)
    if (rowsHint < 0) full
    else {
      // floor: one writer per bucket (capped by cores) — a single dynamic-
      // partition writer task serializes all per-dir writer opens (~1 s for
      // 32 dirs); rows-based width above that, full fanout as the ceiling
      val floor = math.min(numBuckets, table.spark.sparkContext.defaultParallelism)
      val rowsBased = (rowsHint + TargetRowsPerWriteTask - 1) / TargetRowsPerWriteTask
      math.max(math.min(floor.toLong, full.toLong), math.min(full.toLong, rowsBased)).toInt
    }
  }

  /** Parquet wire-format bytes per change event, biased LOW (the wire runs
    * ~20-25 bytes/event) so a big batch keeps the full write fanout.
    */
  private val WireBytesPerEvent = 20L

  /** Batch-size estimate from the `sizeInBytes` Spark keeps on the leaves of
    * the batch's analyzed plan: a file scan knows its input files' bytes,
    * and a streaming `foreachBatch` frame's `LogicalRDD` carries its file
    * source's size too — no extra I/O or job. -1 (unknown → full width) when
    * any leaf has no size (it reports the session default) or on any
    * surprise: a sizing hint never fails a merge.
    */
  private def estimateRows(batch: DataFrame): Long =
    try {
      val unknown = BigInt(batch.sparkSession.sessionState.conf.defaultSizeInBytes)
      val sizes = batch.queryExecution.analyzed.collectLeaves().map(_.stats.sizeInBytes)
      if (sizes.isEmpty || sizes.exists(_ >= unknown)) -1L
      else (sizes.sum / WireBytesPerEvent).min(BigInt(Long.MaxValue)).toLong
    } catch { case scala.util.control.NonFatal(_) => -1L }

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

  /** Fence/adoption decision shared by both merge modes. Returns true when
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
    * maxPos)` atomically with the snapshot. `rowsHint` (batch rows, -1 =
    * estimate from the plan's leaves) sizes the MOR write; pass it when the
    * batch plan also reads existing tables, whose sizes say nothing about
    * the batch. Replayed epochs
    * (epoch <= table.lastEpoch, same pipeline) are fenced to no-ops —
    * exactly-once table state even when Structured Streaming re-runs a batch
    * after a crash.
    *
    * `batchSchemaId`: the registry schema the batch rows are shaped as
    * (defaults to the table's current schema). If the batch carries
    * `_schema_id`, the observed watermark evolves the table in the same
    * commit (OnTableChanged analog — reference: service/handler.go:56-62).
    */
  def merge(table: LakeTable, batch: DataFrame, epoch: Long, salt: Int = 0,
      mode: String = "mor",
      registry: Map[Int, StructType] = Map.empty,
      batchSchemaId: Int = -1,
      pipelineId: String = "",
      allowTakeover: Boolean = false,
      rowsHint: Long = -1L): MergeResult = {
    val m0 = table.refresh()
    if (fenced(m0, epoch, pipelineId, allowTakeover))
      return MergeResult(epoch, skipped = true, 0, 0, 0, 0)
    if (mode == "mor")
      mergeMor(table, m0, batch, epoch, salt, registry, batchSchemaId, pipelineId,
        if (rowsHint >= 0) rowsHint else estimateRows(batch))
    else mergeCow(table, m0, batch, epoch, salt, registry, batchSchemaId, pipelineId)
  }

  // ------------------------------------------------------------------- MOR

  private def mergeMor(table: LakeTable, m0: TableMeta, batch: DataFrame,
      epoch: Long, salt: Int, registry: Map[Int, StructType],
      batchSchemaIdIn: Int, pipelineId: String, rowsHint: Long): MergeResult = {
    val keyCols = m0.keyCols
    val hasSid = batch.columns.contains("_schema_id")
    val batchSchemaId = if (batchSchemaIdIn >= 0) batchSchemaIdIn else m0.schemaId
    val fileSchema = registry.getOrElse(batchSchemaId,
      if (batchSchemaId == m0.schemaId) m0.schema
      else m0.schemaFor(batchSchemaId))

    // No in-batch dedup: positions are unique, so the read-side LWW resolve
    // picks the same winner whether or not intra-batch losers are written.
    // Skipping the groupBy saves a full shuffle+aggregate of every batch —
    // the merge is scan → one bucket exchange → write. (Delta files carry
    // the losers until compaction folds them; `salt` retains the salted
    // two-phase dedup for callers that want slimmer deltas on hot keys.)
    val dedup = if (salt > 1) lwwDedup(batch, keyCols, salt) else batch
    val isDel = col("_op") === OpDelete
    val batchCols = batch.columns.toSet

    // ONE job: observe global metrics on the deduped stream, project to the
    // storage layout (batch schema; delete winners become tombstone rows —
    // key + pos, payload nulled, `_graft_del` true; null on upserts), shuffle
    // by bucket, write ONE delta file per touched bucket and write task.
    val morWidth = writePartitions(table, m0.numBuckets, rowsHint)
    val obs = new Observation(s"merge-$epoch-${UUID.randomUUID().toString.take(6)}")
    val commitId = UUID.randomUUID().toString.take(12)
    val commitRel = s"data/$commitId"
    val sidMetric = if (hasSid) max(col("_schema_id")) else max(lit(batchSchemaId))
    timed("mor-write") {
      // observe on the pre-projection node so _schema_id is in scope
      val stored = dedup.observe(obs,
          count(lit(1)).as("n"),
          sum(when(isDel, 1L).otherwise(0L)).as("dels"),
          max(col("_pos")).as("maxPos"),
          sum(when(col("_pos") <= m0.lastOffset, 1L).otherwise(0L)).as("replays"),
          sidMetric.as("maxSid"))
        .select(
          (fileSchema.fields.map { f =>
            val base =
              if (!batchCols.contains(f.name)) lit(null)
              else if (keyCols.contains(f.name)) col(f.name)
              else when(isDel, lit(null)).otherwise(col(f.name))
            base.cast(f.dataType).as(f.name)
          }.toSeq
            :+ col("_pos").as(table.PosCol)
            :+ col("_event_ts").as(table.TsCol)
            :+ when(isDel, lit(true)).as(table.DelCol)
            :+ table.bucketExpr(m0.numBuckets, m0.bucketCols).as("bkt")): _*)
      // explicit partition count (AQE would coalesce small shuffles into
      // one sort-based dynamic-partition writer — serial and slower),
      // fanned out with a salt so writer waves stay fine-grained relative
      // to the core count (wave quantization otherwise idles the tail);
      // a small batch shrinks the width (file-count hygiene)
      LakeTable.writeParquet(stored
        .repartition(morWidth, col("bkt"), writeSalt(table, morWidth, m0.numBuckets))
        .write.partitionBy("bkt"), table.root.resolve(commitRel).toString)
    }
    val row = obs.get
    // an EMPTY metrics map is AQE's empty-relation elimination: when every
    // runtime stage of the batch plan reports 0 rows (e.g. a diff batch
    // whose except sides cancel), AQE collapses the subtree — CollectMetrics
    // included — so the observation never fires. That can only happen for a
    // provably empty batch, which is exactly the fence-only case below.
    val nDedup = if (row.isEmpty) 0L else row("n").asInstanceOf[Long]
    if (nDedup == 0) { // empty batch: advance the fence only
      table.commitAtomic(latest => latest.copy(
        version = latest.version + 1, lastEpoch = epoch,
        lastPipelineId = pidOr(latest, pipelineId),
        history = latest.history :+ CommitInfo(latest.version + 1, epoch,
          latest.lastOffset, System.currentTimeMillis(), "merge-empty")))
      return MergeResult(epoch, skipped = false, 0, 0, 0, 0)
    }
    val nDeletes = row("dels").asInstanceOf[Long]
    val maxPos = row("maxPos").asInstanceOf[Long]
    val nReplays = row("replays").asInstanceOf[Long]
    val maxSid = row("maxSid").asInstanceOf[Int]

    val newFiles = timed("footers")(
      listCommitFiles(table, commitRel, batchSchemaId, "delta"))
    val lineage = newFiles.groupBy(_.bucket).map { case (b, fs) =>
      LineageEntry(epoch, b,
        upserted = fs.map(f => f.rows - f.tombstones).sum,
        deleted = fs.map(_.tombstones).sum,
        appliedOffset = fs.map(_.maxPos).max)
    }.toSeq

    // append-only commit, rebased onto whatever the async compactor may
    // have published meanwhile; schema registration + in-flight evolution
    // land in the SAME atomic commit as the data
    table.commitAtomic { latest =>
      var schemas = latest.schemas
      if (!schemas.contains(batchSchemaId.toString))
        schemas += batchSchemaId.toString -> fileSchema.json
      var schemaId = latest.schemaId
      if (maxSid > schemaId) {
        val target = registry.getOrElse(maxSid, throw new IllegalStateException(
          s"batch carries schema_id $maxSid but registry has no schema for it"))
        LakeTable.checkCompatible(latest.schema, target)
        schemas += maxSid.toString -> target.json
        schemaId = maxSid
      }
      latest.copy(
        version = latest.version + 1,
        schemaId = schemaId,
        schemas = schemas,
        lastEpoch = epoch,
        lastOffset = math.max(latest.lastOffset, maxPos),
        lastPipelineId = pidOr(latest, pipelineId),
        files = (latest.files ++ newFiles).sortBy(f => (f.bucket, f.path)),
        lineage = latest.lineage ++ lineage, // capped at fold, not here
        history = latest.history :+ CommitInfo(latest.version + 1, epoch, maxPos,
          System.currentTimeMillis(),
          s"merge-mor:buckets=${lineage.size}:rows=$nDedup", replayed = nReplays))
    }

    MergeResult(epoch, skipped = false, upserted = nDedup - nDeletes,
      deleted = nDeletes, replayed = nReplays, touchedBuckets = lineage.size)
  }

  // ------------------------------------------------------------------- COW

  private def mergeCow(table: LakeTable, m0: TableMeta, batch: DataFrame,
      epoch: Long, salt: Int, registry: Map[Int, StructType],
      batchSchemaIdIn: Int, pipelineId: String): MergeResult = {
    val keyCols = m0.keyCols
    val hasSid = batch.columns.contains("_schema_id")
    // same contract as mergeMor: an explicit batchSchemaId declares how a
    // batch WITHOUT a _schema_id column is shaped, so the evolution path
    // below fires for it too (previously cow silently ignored the argument
    // and dropped new-column data on such batches)
    val batchSchemaId = if (batchSchemaIdIn >= 0) batchSchemaIdIn else m0.schemaId
    val bucket = table.bucketExpr(m0.numBuckets, m0.bucketCols)

    val dedup = lwwDedup(batch, keyCols, salt)
      .withColumn("_bucket", bucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sidAgg = if (hasSid) max(col("_schema_id")) else max(lit(batchSchemaId))
      val stats = dedup.groupBy("_bucket").agg(
        count(lit(1)).as("n"),
        sum(when(col("_op") === OpDelete, 1L).otherwise(0L)).as("dels"),
        max(col("_pos")).as("maxPos"),
        sum(when(col("_pos") <= m0.lastOffset, 1L).otherwise(0L)).as("replays"),
        sidAgg.as("maxSid")).collect()

      if (stats.isEmpty) {
        table.commitAtomic(latest => latest.copy(
          version = latest.version + 1, lastEpoch = epoch,
          lastPipelineId = pidOr(latest, pipelineId),
          history = latest.history :+ CommitInfo(latest.version + 1, epoch,
            latest.lastOffset, System.currentTimeMillis(), "merge-empty")))
        return MergeResult(epoch, skipped = false, 0, 0, 0, 0)
      }

      val touched = stats.map(_.getInt(0)).toSet
      val nDedup = stats.map(_.getLong(1)).sum
      val nDeletes = stats.map(_.getLong(2)).sum
      val maxPos = stats.map(_.getLong(3)).max
      val nReplays = stats.map(_.getLong(4)).sum

      // evolve BEFORE the rewrite so new base files carry the new schema
      val maxSid = stats.map(_.getInt(5)).max
      if (maxSid > m0.schemaId) {
        val target = registry.getOrElse(maxSid, throw new IllegalStateException(
          s"batch carries schema_id $maxSid but registry has no schema for it"))
        table.evolveSchema(maxSid, target)
      }
      val m = table.meta
      val rowCols = m.schema.fieldNames.toSeq
      val batchCols = batch.columns.toSet
      val isDel = col("_op") === OpDelete

      def toStorage(winners: DataFrame): DataFrame = {
        val wCols = winners.columns.toSet
        winners.select(
          (m.schema.fields.map { f =>
            val base =
              if (!wCols.contains(f.name)) lit(null)
              else if (keyCols.contains(f.name)) col(f.name)
              else when(isDel, lit(null)).otherwise(col(f.name))
            base.cast(f.dataType).as(f.name)
          }.toSeq
            :+ col("_pos").as(table.PosCol)
            :+ col("_event_ts").as(table.TsCol)
            :+ isDel.as("del")): _*)
      }

      val keysOnly = dedup.select(keyCols.map(col): _*)
      val keySet = if (nDedup <= BroadcastKeyLimit) broadcast(keysOnly) else keysOnly
      val existing = table.snapshotForBuckets(m, touched) // rowCols + Pos/Ts/DelCol
      val unmatched = existing.join(keySet, keyCols, "left_anti")
        .withColumnRenamed(table.DelCol, "del")
      // Matched existing rows (live or tombstone) re-enter LWW as events at
      // their applied (pos, ts): a replayed (old-pos) batch event loses; a
      // newer one wins; tombstones compete as deletes so a replayed old
      // insert cannot resurrect a deleted key.
      val matchedAsEvents = existing.join(keySet, keyCols, "left_semi")
        .withColumn("_op",
          when(col(table.DelCol), lit(OpDelete)).otherwise(lit(OpInsert)))
        .withColumnRenamed(table.PosCol, "_pos")
        .withColumnRenamed(table.TsCol, "_event_ts")
        .select((Seq("_op", "_pos", "_event_ts") ++ rowCols).map(col): _*)
      val batchEvents = dedup.drop("_bucket", "_schema_id")
        .select((Seq("_op", "_pos", "_event_ts") ++
          rowCols.filter(batchCols.contains)).map(col): _*)
      val winners = lwwDedup(matchedAsEvents.unionByName(batchEvents,
        allowMissingColumns = true), keyCols)
      val finalRows = unmatched.unionByName(toStorage(winners))
        .withColumn("bkt", bucket)

      val commitId = UUID.randomUUID().toString.take(12)
      val commitRel = s"data/$commitId"
      timed("cow-write")(LakeTable.writeParquet(finalRows
        .repartition(math.max(touched.size, 1), col("bkt"))
        .write.partitionBy("bkt", "del"), table.root.resolve(commitRel).toString))

      val newFiles = listCommitFiles(table, commitRel, m.schemaId, "base")
      val lineage = stats.map { r =>
        LineageEntry(epoch, r.getInt(0), upserted = r.getLong(1) - r.getLong(2),
          deleted = r.getLong(2), appliedOffset = r.getLong(3))
      }

      table.commitAtomic { latest =>
        latest.copy(
          version = latest.version + 1,
          lastEpoch = epoch,
          lastOffset = math.max(latest.lastOffset, maxPos),
          lastPipelineId = pidOr(latest, pipelineId),
          files = (latest.files.filterNot(f => touched.contains(f.bucket)) ++ newFiles)
            .sortBy(f => (f.bucket, f.path)),
          lineage = latest.lineage ++ lineage,
          history = latest.history :+ CommitInfo(latest.version + 1, epoch, maxPos,
            System.currentTimeMillis(),
            s"merge-cow:buckets=${touched.size}:rows=$nDedup", replayed = nReplays))
      }

      MergeResult(epoch, skipped = false,
        upserted = nDedup - nDeletes, deleted = nDeletes,
        replayed = nReplays, touchedBuckets = touched.size)
    } finally dedup.unpersist()
  }

  // ----------------------------------------------------------- maintenance

  /** Fold delta files into resolved base files (MOR maintenance). Keeps
    * tombstones (they defend against replayed-old-insert resurrection;
    * `gcTombstonesBelowPos` may drop those whose pos is provably below any
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
    * that can redeliver events older than a full compaction cycle must
    * disable GC (keep the manual `compact(table)` default).
    *
    * Commit is REBASE-safe against concurrent MOR merges (the Iceberg
    * RewriteDataFiles shape): the rewrite resolves the file set of snapshot
    * v; if merges appended deltas meanwhile, the commit retries as
    * (latest.files − inputs) + newBaseFiles — sound because MOR merges only
    * ADD files and LWW resolution is order-independent (max pos wins
    * regardless of which file holds it).
    */
  def compact(table: LakeTable, gcTombstonesBelowPos: Long = Long.MinValue): Unit = {
    val m = table.refresh()
    // SELECTIVE: only buckets that carry delta files are resolved and
    // rewritten — compaction cost is proportional to churn, not table size
    // (a 100 TB table with a hot 1% rewrites 1%). Pure-base buckets are
    // untouched and already read shuffle-free.
    val deltaBuckets = m.files.filter(_.kind == "delta").map(_.bucket).toSet
    if (deltaBuckets.isEmpty) return
    val inputs = m.files.filter(f => deltaBuckets.contains(f.bucket)).toSet
    val bucket = table.bucketExpr(m.numBuckets, m.bucketCols)
    val resolved = table.snapshotForBuckets(m, deltaBuckets)
      .where(!col(table.DelCol) || col(table.PosCol) >= gcTombstonesBelowPos)
      .withColumnRenamed(table.DelCol, "del")
      .withColumn("bkt", bucket)
    val commitId = UUID.randomUUID().toString.take(12)
    val commitRel = s"data/$commitId"
    // rows being rewritten are known from the manifest — size the exchange
    val totalRows = inputs.toSeq.map(_.rows).sum
    val cWidth = writePartitions(table, m.numBuckets, totalRows)
    timed("compact-write")(LakeTable.writeParquet(resolved
      .repartition(cWidth, col("bkt"), writeSalt(table, cWidth, m.numBuckets))
      .write.partitionBy("bkt", "del"), table.root.resolve(commitRel).toString))
    val newFiles = listCommitFiles(table, commitRel, m.schemaId, "base")
    // rebase: keep any delta files appended since `m` was resolved
    table.commitAtomic { latest =>
      require(inputs.subsetOf(latest.files.toSet),
        "compaction inputs vanished — concurrent non-append commit")
      latest.copy(
        version = latest.version + 1,
        // watermark for the NEXT compaction's tombstone GC: the offset of
        // the snapshot THIS compaction resolved (≤ latest.lastOffset —
        // conservative under concurrent merges); monotone under manual +
        // auto interleaving
        lastCompactOffset = math.max(latest.lastCompactOffset, m.lastOffset),
        files = (latest.files.filterNot(inputs.contains) ++ newFiles)
          .sortBy(f => (f.bucket, f.path)),
        history = latest.history :+ CommitInfo(latest.version + 1, latest.lastEpoch,
          latest.lastOffset, System.currentTimeMillis(),
          s"compact:files=${newFiles.size}:gcBelow=$gcTombstonesBelowPos"))
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
  def maybeCompactAsync(table: LakeTable, ratio: Double, minRows: Long,
      gcTombstones: Boolean = true): Boolean = {
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
    val gcBelow = if (gcTombstones) m.lastCompactOffset else Long.MinValue
    val t = new Thread(() =>
      try compact(table, gcTombstonesBelowPos = gcBelow)
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

  /** Delta-vs-base row ratio (compaction trigger input). */
  def deltaRatio(table: LakeTable): Double = {
    val m = table.meta
    val d = m.files.filter(_.kind == "delta").map(_.rows).sum.toDouble
    val b = m.files.filter(_.kind == "base").map(_.rows).sum.toDouble
    if (b == 0) (if (d > 0) Double.MaxValue else 0.0) else d / b
  }

  /** Enumerate staged files under `commitRel` with row counts, the
    * applied-pos max and (mixed delta files) the tombstone count — straight
    * from parquet footers, no data re-scan. Layouts:
    * `<commitRel>/bkt=<b>/part-*.parquet` (MOR delta, tombstone flag in the
    * `_graft_del` column) and `<commitRel>/bkt=<b>/del=<bool>/part-*.parquet`
    * (base files, tombstones split out).
    *
    * The directory LISTING is driver-side (pure namespace I/O); footer
    * OPENS are a distributed Spark job above [[DriverFooterLimit]] files —
    * per-commit driver cost stays O(listing), not O(files × footer-read),
    * the stat-collection shape that survives 1000-executor commits.
    */
  private def listCommitFiles(table: LakeTable, commitRel: String,
      schemaId: Int, kind: String): List[FileEntry] = {
    val commitDir = table.root.resolve(commitRel)
    if (!Files.isDirectory(commitDir)) return Nil
    // every Files.list stream is closed eagerly — this runs once per commit
    // on a long-lived driver, and unclosed directory streams leak FDs
    def ls(dir: java.nio.file.Path): List[java.nio.file.Path] = {
      val s = Files.list(dir)
      try s.iterator().asScala.toList finally s.close()
    }
    def parquets(dir: java.nio.file.Path) =
      ls(dir).filter(_.getFileName.toString.endsWith(".parquet"))
    // (bucket, Some(del) for a split file / None for a mixed one, uri, rel)
    val paths = ls(commitDir)
      .filter(_.getFileName.toString.startsWith("bkt="))
      .flatMap { bdir =>
        val b = bdir.getFileName.toString.stripPrefix("bkt=").toInt
        val split = ls(bdir)
          .filter(_.getFileName.toString.startsWith("del="))
          .flatMap { ddir =>
            val del = ddir.getFileName.toString.stripPrefix("del=").toBoolean
            parquets(ddir).map(f => (b, Option(del), f))
          }
        split ++ parquets(bdir).map(f => (b, Option.empty[Boolean], f))
      }.map { case (b, del, f) =>
        (b, del, f.toUri.toString, table.root.relativize(f).toString)
      }
    val posCol = table.PosCol
    val delCol = table.DelCol
    def entry(b: Int, del: Option[Boolean], rel: String, stats: (Long, Long, Long)) =
      FileEntry(b, rel, stats._1, schemaId, kind, del.getOrElse(false), stats._2,
        delRows = if (del.isEmpty) stats._1 - stats._3 else -1L)
    if (paths.size <= DriverFooterLimit) {
      // small commit: footer reads in parallel on the driver beat a job round-trip
      val conf = table.spark.sessionState.newHadoopConf()
      paths.par.map { case (b, del, uri, rel) =>
        entry(b, del, rel, readFooterStats(uri, posCol, delCol, conf))
      }.toList
    } else {
      val sc = table.spark.sparkContext
      val slices = math.min(paths.size, math.max(1, sc.defaultParallelism))
      sc.parallelize(paths, slices).map { case (b, del, uri, rel) =>
        // executor-side: fresh Hadoop conf (table roots are plain URIs)
        (b, del, rel, readFooterStats(uri, posCol, delCol,
          new org.apache.hadoop.conf.Configuration()))
      }.collect().toList.map { case (b, del, rel, st) => entry(b, del, rel, st) }
    }
  }

  /** (rowCount, max(posCol), nulls in delCol) from one parquet footer; the
    * null count is 0 when the file has no `delCol`.
    */
  private def readFooterStats(uri: String, posCol: String, delCol: String,
      conf: org.apache.hadoop.conf.Configuration): (Long, Long, Long) = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(java.net.URI.create(uri)), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      def chunks(name: String) = blocks.flatMap(_.getColumns.asScala
        .filter(_.getPath.toDotString == name))
      val maxPos = chunks(posCol)
        .map(_.getStatistics)
        .filter(s => s != null && s.hasNonNullValue)
        .map(_.genericGetMax.asInstanceOf[Long]) match {
        case s if s.nonEmpty => s.max
        case _ => -1L
      }
      val delNulls = chunks(delCol).map { c =>
        val st = c.getStatistics
        if (st == null || !st.isNumNullsSet)
          throw new IllegalStateException(s"$uri: footer of $delCol has no null count")
        st.getNumNulls
      }.sum
      (rows, maxPos, delNulls)
    } finally reader.close()
  }
}
