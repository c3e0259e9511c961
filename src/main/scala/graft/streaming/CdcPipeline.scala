package graft.streaming

import graft.changelog.ChangelogCodec
import graft.core.{Timing, Types}
import graft.lake.LakeTable
import graft.merge.{MergeInto, MergeResult, SinkOpState}
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
  *      → the batch's schema_id watermark evolves the table in the merge's
  *        own commit.
  */
object CdcPipeline {

  final case class Config(
      changelogDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 4,
      triggerMs: Long = 200L, // reference default flush_bulk_interval=200ms
      saltedDedup: Int = 0,
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

  /** Where a route's rows go: MERGE into a lake table, whose `registry`
    * (schema_id → table shape) evolves it in-commit from the batch's
    * `_schema_id` watermark; or a changefeed's `epoch=N` dirs
    * ([[ConfigPipeline.writeFeed]]) — with `state`, an ordered op stream that
    * also folds into that [[SinkOpState]] table — folded every `foldEvery`
    * batches (0 = never) down to the newest `retainEpochs` dirs.
    */
  private[streaming] sealed trait Sink
  private[streaming] final case class Lake(table: LakeTable,
      registry: Map[Int, StructType]) extends Sink
  private[streaming] final case class Feed(outDir: String, state: LakeTable = null,
      foldEvery: Long = 0L, retainEpochs: Int = 8) extends Sink
  /** One route: its rows of the decoded batch, and their sink. */
  private[streaming] final case class Route(name: String,
      rows: DataFrame => DataFrame, sink: Sink)

  /** What a stream reads and where each of its batches goes: every
    * pipeline front-end is one of these, run by [[run]].
    */
  private[streaming] final case class Plan(
      routes: Seq[Route],
      discover: DataFrame => Seq[Route] = null, // more routes, found per batch
      wireFormat: String = "graft", // see GraftConfig.wireFormat
      tableStartVersion: Int = 1,
      withBefore: Boolean = false, // decode the before image
      // the single-table entry's `[timing] applyBatch(<epoch>)` and `merge`
      timed: Boolean = false)

  private def single(table: LakeTable, cfg: Config): Plan =
    Plan(Seq(Route(table.root.toString, identity, Lake(table, cfg.registry))), timed = true)

  /** Apply one micro-batch of wire-form events. Exposed for tests and the
    * batch replayer.
    */
  def applyBatch(table: LakeTable, wire: DataFrame, epoch: Long,
      cfg: Config, pipelineId: String = ""): MergeResult =
    applyPlan(single(table, cfg), wire, epoch, cfg, pipelineId).head._2

  /** Start the continuous streaming query. */
  def start(spark: SparkSession, table: LakeTable, cfg: Config,
      availableNow: Boolean = false): StreamingQuery =
    run(spark, single(table, cfg), cfg, availableNow)

  /** The engine's one batch loop: the changelog source for the plan's wire
    * format → foreachBatch → [[withBatchRetries]] → [[applyPlan]], on an
    * AvailableNow (drain and stop) or processing-time trigger. Its
    * checkpoint logs go through [[NioCheckpointFileManager]] unless the
    * session names its own manager.
    */
  private[streaming] def run(spark: SparkSession, plan: Plan, cfg: Config,
      availableNow: Boolean): StreamingQuery = {
    NioCheckpointFileManager.install(spark)
    val wire = plan.wireFormat match {
      case "debezium" =>
        // a Debezium topic dump: JSON-lines files, one envelope per line.
        // Tombstones (null-value records Debezium emits after deletes),
        // blank lines and non-envelope junk cannot contain an `"op"` key —
        // dropped HERE on the text scan where the predicate is free;
        // decodeDebezium raises on anything op-less that slips past
        // (see its scaladoc for why the skip cannot live inside the decode)
        spark.readStream
          .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
          .text(cfg.changelogDir)
          .where(instr(col("value"), "\"op\"") > 0)
      case "table" =>
        // tail another lake table's commits (pipeline chaining). Default
        // start = version 1: a fresh downstream replays the full retained
        // delta history (bootstrap loads included: they land deltas too)
        // and starts complete. Its own checkpoint dedups across restarts;
        // history beyond the upstream's vacuum retention needs a Bootstrap
        // first.
        // table_start_version: 0 tails from NOW instead.
        val r = spark.readStream.format("graft")
        (if (plan.tableStartVersion > 0)
          r.option("startingVersion", plan.tableStartVersion.toString)
        else r).load(cfg.changelogDir)
      case _ => spark.readStream
        .schema(Types.changeEventWireSchema)
        .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
        .parquet(cfg.changelogDir)
    }
    val pipelineId = resolvePipelineId(cfg.checkpointDir)
    val writer = wire.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        withBatchRetries(cfg, batchId)(applyPlan(plan, df, batchId, cfg, pipelineId)); ()
      }
    val triggered =
      if (availableNow) writer.trigger(Trigger.AvailableNow())
      else writer.trigger(Trigger.ProcessingTime(cfg.triggerMs))
    triggered.start()
  }

  /** One batch of `plan`: decode once, apply each route's sink, then
    * maintenance. The decoded batch is persisted only when it is read more
    * than once — by several routes, by a feed that also folds its op state,
    * or by discovery plus the routes it finds.
    */
  private[streaming] def applyPlan(plan: Plan, wire: DataFrame, epoch: Long,
      cfg: Config, pipelineId: String): Map[String, MergeResult] = {
    def batch: Map[String, MergeResult] = {
      // Decode against the newest registry schema (a superset — older events
      // parse with nulls/wide types); the per-event _schema_id watermark rides
      // into the merge stats and drives in-flight table evolution there
      // (OnTableChanged analog) with no extra scan of the batch.
      val newestSid = cfg.registry.keys.max
      val decoded = decode(plan, wire, newestSid, cfg.registry(newestSid))
      val reads = plan.routes.map(_.sink match {
        case Feed(_, state, _, _) if state != null => 2; case _ => 1 }).sum
      val shared = plan.discover != null || reads > 1
      val input =
        if (shared) decoded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else decoded
      val (routes, results) = try {
        val routes = plan.routes ++ Option(plan.discover).fold(Seq.empty[Route])(_(input))
        (routes, routes.map(r =>
          r.name -> sink(plan, r, r.rows(input), epoch, newestSid, cfg, pipelineId)).toMap)
      } finally if (shared) input.unpersist()
      maintain(wire.sparkSession, routes, epoch, cfg)
      results
    }
    if (plan.timed) Timing.timed(s"applyBatch($epoch)", stamp = true)(batch) else batch
  }

  /** The batch in the merge-input layout, decoded against the newest
    * registry schema.
    */
  private def decode(plan: Plan, wire: DataFrame, newestSid: Int,
      newest: StructType): DataFrame = plan.wireFormat match {
    case "debezium" =>
      // no schema_id on the standard envelope: decode against (and evolve
      // tables to) the newest registry schema — see GraftConfig.wireFormat
      ChangelogCodec.decodeDebezium(wire, newest, withBefore = plan.withBefore)
        .withColumn("_schema_id", lit(newestSid))
    case "table" =>
      // upstream-table commit tail: rows are already decoded — shape them
      // into the merge-input layout (upsert→insert; no before images on a
      // table tail), casting by name to the registry's newest schema
      val metas = Seq(
        when(col("_op") === "delete", Types.OpDelete)
          .otherwise(Types.OpInsert).as("_op"),
        col("_pos"),
        lit(null).cast("timestamp").as("_event_ts"),
        lit(newestSid).as("_schema_id")) ++
        (if (plan.withBefore)
          Seq(lit(null).cast(StructType(newest.fields)).as(ChangelogCodec.BeforeCol))
        else Nil)
      wire.select(metas ++ newest.fields.toSeq.map(f =>
        (if (wire.columns.contains(f.name)) col(f.name)
         else lit(null)).cast(f.dataType).as(f.name)): _*)
    case _ => ChangelogCodec.decode(wire, newest, plan.withBefore)
  }

  private def sink(plan: Plan, r: Route, rows: DataFrame, epoch: Long,
      newestSid: Int, cfg: Config, pipelineId: String): MergeResult = r.sink match {
    case Lake(table, registry) =>
      def merge = MergeInto.merge(table, rows, epoch, cfg.saltedDedup, registry,
        batchSchemaId = newestSid, pipelineId = pipelineId,
        allowTakeover = cfg.allowPipelineTakeover)
      if (plan.timed) Timing.timed("merge", stamp = true)(merge) else merge
    case Feed(outDir, state, _, _) =>
      ConfigPipeline.writeFeed(r.name, outDir, rows, epoch)
      if (state == null) MergeResult(epoch, skipped = false, 0, 0, 0, 0)
      // the state table's OWN (epoch, pipelineId) fence makes the fold
      // exactly-once; the feed write above is overwrite-idempotent only
      else SinkOpState.applyBatch(state, rows, epoch, pipelineId = pipelineId,
        allowTakeover = cfg.allowPipelineTakeover)
  }

  /** Maintenance after a batch, never blocking ingest: async amortized
    * compaction keeps every written table's MOR read-side resolve bounded
    * (rebase-safe vs concurrent merges), and each feed folds on its own
    * cadence (a fold only touches epochs below the newest retained ones, so
    * it cannot race the writer).
    */
  private def maintain(spark: SparkSession, routes: Seq[Route], epoch: Long,
      cfg: Config): Unit = routes.foreach(_.sink match {
    case Lake(table, _) =>
      MergeInto.maybeCompactAsync(table, cfg.autoCompactRatio, cfg.autoCompactMinRows)
    case Feed(outDir, state, foldEvery, retainEpochs) =>
      // state tables are lake tables too: same file-compaction economics
      // under a churn-heavy op stream (their op-algebra MARKER rows are
      // app-level and GC separately via SinkOpState.gcMarkers)
      if (state != null)
        MergeInto.maybeCompactAsync(state, cfg.autoCompactRatio, cfg.autoCompactMinRows)
      if (foldEvery > 0 && epoch > 0 && epoch % foldEvery == 0)
        ConfigPipeline.maybeFoldFeedAsync(spark, outDir, retainEpochs)
  })

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
