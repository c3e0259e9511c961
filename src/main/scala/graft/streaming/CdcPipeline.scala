package graft.streaming

import graft.changelog.ChangelogCodec
import graft.core.Types
import graft.lake.LakeTable
import graft.merge.{MergeInto, MergeResult}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The incremental-sync run (reference lifecycle §3.1 of SURVEY.md):
  * change-log tail → decode → micro-batch → idempotent MERGE → atomic
  * commit, resumable from checkpoint.
  *
  * Mapping to the reference:
  *  - canal.RunFrom(position) tail (transfer_service.go:106-134)
  *      → `readStream` file source over the changelog dir; offsets live in
  *        the checkpoint, the applied (epoch, pos) fence lives in the table.
  *  - size/time flush (handler.go:135-194, bulk_size/flush_bulk_interval)
  *      → `maxFilesPerTrigger` + processing-time trigger.
  *  - save position after Consume (handler.go:173-191)
  *      → the MERGE commit embeds (epoch, offset); a crash between sink
  *        write and checkpoint save replays the batch, which the fence
  *        no-ops — exactly-once table state instead of at-least-once.
  *  - OnTableChanged schema refresh (handler.go:56-62)
  *      → schema_id watermark per batch drives `evolveSchema` before decode.
  */
object CdcPipeline {

  final case class Config(
      changelogDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 4,
      triggerMs: Long = 200L, // reference default flush_bulk_interval=200ms
      saltedDedup: Int = 0,
      mergeMode: String = "mor", // mor = O(batch) commits; cow = resolved buckets
      // fold deltas into base when deltaRows ≥ ratio × baseRows (and ≥ minRows)
      autoCompactRatio: Double = 4.0,
      autoCompactMinRows: Long = 200000L,
      registry: Map[Int, StructType] = Types.transcriptSchemas,
      // explicitly rebind a table last written by a different checkpoint
      // (the set-offset-style operator override; see MergeInto fence docs)
      allowPipelineTakeover: Boolean = false,
      // B6 sink-failure recovery (reference: transfer_service.go:328-354
      // disables the endpoint and ping-reconnects every 1 s): transient
      // failures retry in place with backoff; a batch that exhausts its
      // retries kills the query, which [[runSupervised]] restarts from the
      // checkpoint — the fence no-ops anything already committed.
      maxBatchRetries: Int = 3,
      retryBackoffMs: Long = 100L,
      maxRestarts: Int = 3,
      restartBackoffMs: Long = 500L,
      // a query that ran healthily this long earns its restart budget back —
      // without this, sporadic terminal errors over weeks exhaust the budget
      // and kill a healthy pipeline permanently (the reference reconnects
      // indefinitely: transfer_service.go:328-354)
      restartResetMs: Long = 60000L,
      // test hook: invoked with the batchId INSIDE the retried region, so
      // specs can inject transient sink failures deterministically
      failureInjector: Option[Long => Unit] = None)

  /** Checkpoint identity: a UUID persisted INSIDE the checkpoint dir, bound
    * to every commit's fence. Structured Streaming batchIds restart at 0 for
    * a fresh checkpoint — without this binding, re-pointing `run` at an
    * existing table with a new checkpoint would silently fence batches of
    * never-applied events as "replays" (the Delta txn-appId pattern).
    */
  def resolvePipelineId(checkpointDir: String): String = {
    import java.nio.file.{Files, Paths}
    if (checkpointDir == null || checkpointDir.isEmpty) return ""
    val dir = Paths.get(checkpointDir)
    Files.createDirectories(dir)
    val f = dir.resolve("graft-pipeline-id")
    if (Files.exists(f)) {
      // An empty/corrupt id file is an ERROR, never a fallback: returning ""
      // here would silently degrade fenced() to the epoch-only fence — the
      // exact data-loss mode the identity binding exists to prevent.
      val id = new String(Files.readAllBytes(f), "UTF-8").trim
      require(id.matches("[0-9a-fA-F-]{36}"),
        s"corrupt pipeline-id file $f (${id.length} chars) — a crash mid-" +
          "write left it unreadable; delete it to mint a fresh identity " +
          "(with allowPipelineTakeover if the table was already written)")
      id
    } else {
      val id = java.util.UUID.randomUUID().toString
      // temp-file + ATOMIC_MOVE: the id file is either absent or complete,
      // never truncated (a plain write could crash half-flushed and poison
      // every later start)
      val tmp = Files.createTempFile(dir, ".graft-pipeline-id", ".tmp")
      Files.write(tmp, id.getBytes("UTF-8"))
      // hard-link publish (same primitive as commit publish): unlike
      // ATOMIC_MOVE — whose POSIX rename silently REPLACES an existing
      // target, letting two racing starts each keep their own id — link
      // FAILS if the file exists, so the loser adopts the winner's id
      try Files.createLink(f, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          return resolvePipelineId(checkpointDir)
      }
      Files.deleteIfExists(tmp)
      id
    }
  }

  /** Apply one micro-batch of wire-form events. Exposed for tests and the
    * batch replayer.
    */
  private val debugTiming = sys.env.contains("GRAFT_TIMING")
  private def timed[T](tag: String)(f: => T): T = {
    if (!debugTiming) f
    else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[timing] $tag ${(System.nanoTime() - t0) / 1e9}%.3fs " +
        f"(at ${System.currentTimeMillis() % 1000000}ms)")
      r
    }
  }

  def applyBatch(table: LakeTable, wire: DataFrame, epoch: Long,
      cfg: Config, pipelineId: String = ""): MergeResult = timed(s"applyBatch($epoch)") {
    // Decode against the newest registry schema (a superset — older events
    // parse with nulls/wide types); the per-event _schema_id watermark rides
    // into the merge stats and drives in-flight table evolution there
    // (OnTableChanged analog) with no extra scan of the batch.
    val newestSid = cfg.registry.keys.max
    val decoded = ChangelogCodec.decode(wire, cfg.registry(newestSid))
    val res = timed("merge")(
      MergeInto.merge(table, decoded, epoch, cfg.saltedDedup, cfg.mergeMode,
        cfg.registry, batchSchemaId = newestSid, pipelineId = pipelineId,
        allowTakeover = cfg.allowPipelineTakeover))

    // MOR maintenance: async amortized compaction keeps read-side resolve
    // bounded without blocking ingest (rebase-safe vs concurrent merges).
    MergeInto.maybeCompactAsync(table, cfg.autoCompactRatio, cfg.autoCompactMinRows)
    res
  }

  /** Start the continuous streaming query. */
  def start(spark: SparkSession, table: LakeTable, cfg: Config,
      availableNow: Boolean = false): StreamingQuery = {
    val wire = spark.readStream
      .schema(Types.changeEventWireSchema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(cfg.changelogDir)
    val pipelineId = resolvePipelineId(cfg.checkpointDir)
    val writer = wire.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        withBatchRetries(cfg, batchId)(applyBatch(table, df, batchId, cfg, pipelineId)); ()
      }
    val triggered =
      if (availableNow) writer.trigger(Trigger.AvailableNow())
      else writer.trigger(Trigger.ProcessingTime(cfg.triggerMs))
    triggered.start()
  }

  /** In-place retry with backoff for transient sink/merge failures. Safe to
    * retry blindly: a failed merge has not committed, and a merge that DID
    * commit before the failure surfaced is fenced to a no-op on retry.
    */
  private[streaming] def withBatchRetries[T](cfg: Config, epoch: Long)(f: => T): T = {
    var attempt = 0
    while (true) {
      try {
        cfg.failureInjector.foreach(_(epoch))
        return f
      } catch {
        // NonFatal only: OOM/interrupt/control-flow must propagate, not
        // spin a dying JVM through more full merge attempts
        case scala.util.control.NonFatal(e) if attempt < cfg.maxBatchRetries =>
          attempt += 1
          System.err.println(s"[graft] batch $epoch failed " +
            s"(attempt $attempt/${cfg.maxBatchRetries}), retrying in " +
            s"${cfg.retryBackoffMs} ms: $e")
          Thread.sleep(cfg.retryBackoffMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Supervised run: restart the streaming query from its checkpoint after a
    * terminal failure, up to `maxRestarts` times — the reference's
    * endpoint-disable + 1 s ping-reconnect loop
    * (service/transfer_service.go:328-354) as query supervision. Combined
    * with [[withBatchRetries]], transient failures recover in place and
    * poisoned-but-recoverable runs recover across restarts; a persistent
    * failure still surfaces after the budget.
    */
  def runSupervised(spark: SparkSession, table: LakeTable, cfg: Config,
      availableNow: Boolean = true): Unit = {
    var restarts = 0
    while (true) {
      val startedAt = System.nanoTime()
      val q = start(spark, table, cfg, availableNow)
      try {
        q.awaitTermination()
        return
      } catch {
        case scala.util.control.NonFatal(e)
            if restarts < cfg.maxRestarts ||
              (System.nanoTime() - startedAt) / 1000000L >= cfg.restartResetMs =>
          // a healthy run longer than restartResetMs refunds the budget:
          // the counter guards against crash LOOPS, not lifetime crash COUNT
          if ((System.nanoTime() - startedAt) / 1000000L >= cfg.restartResetMs)
            restarts = 0
          restarts += 1
          System.err.println(s"[graft] streaming query died " +
            s"(restart $restarts/${cfg.maxRestarts} in ${cfg.restartBackoffMs} ms): " +
            s"${e.getMessage}")
          try q.stop() catch { case _: Throwable => }
          Thread.sleep(cfg.restartBackoffMs)
      }
    }
  }

  /** Drain everything currently in the changelog and stop (the test/bench
    * entry): AvailableNow respects maxFilesPerTrigger, so the run still
    * exercises the micro-batch + fence + commit path per chunk.
    */
  def runToCompletion(spark: SparkSession, table: LakeTable, cfg: Config): Unit = {
    val q = start(spark, table, cfg, availableNow = true)
    q.awaitTermination()
  }
}
