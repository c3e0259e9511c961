package applybench

import graft.changelog.{ChangelogCodec, ChangelogGenerator, ChangelogSpec}
import graft.core.Types
import graft.lake.LakeTable
import graft.streaming.CdcPipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** `stream-fresh`: open loop through the Structured Streaming path
  * (`CdcPipeline.start`, processing-time trigger, no compaction). Set-up
  * pre-builds small change-log segments; during the run the harness thread
  * releases one segment per `ReleaseEveryMs` into the watched directory by
  * atomic rename, whatever the engine is doing. The rate is below saturation,
  * so the backlog stays bounded; as a micro-batch takes longer than the
  * trigger interval, batches run back to back and each takes what arrived
  * meanwhile. Per-batch fixed costs (planning, codegen, file fanout, footers,
  * commit) dominate. Because batches run back to back, events ÷ time in
  * `addBatch` reads the offered rate until the engine saturates: here
  * `apply_eps` is a saturation check, and freshness is the figure the
  * engine sets.
  */
object StreamFresh {
  /** Events per segment: half the 2,000-event batch quoted in README.md as
    * the starting expectation. A micro-batch gathers many segments anyway
    * (below), and at 2,000 the run's input generation, oracle and table
    * probes took ~5 s more than the run budget allows.
    */
  val SegmentEvents = 1000L
  /** Freshness samples per run: one per segment. */
  val MinSegments = 100
  /** The fixed release rate, 10 segments/s = 10k events/s offered: the
    * slowest that gives `MinSegments` samples in a 10-second timed region.
    * The engine spends ~2 s per micro-batch at `Buckets`, most of it fixed
    * cost, so each batch gathers about 20 segments (~20k events).
    */
  val ReleaseEveryMs = 100L
  /** The engine's default table width (`num_buckets` in `GraftConfig`): a
    * MOR commit writes a data and a delete file per touched bucket.
    */
  val Buckets = 32
  /** The engine's default trigger (`trigger_ms`, the reference's
    * `flush_bulk_interval` of 200 ms).
    */
  val TriggerMs = 200L
  /** No cap on files per micro-batch. With the engine default of 4 files,
    * ~2 s micro-batches would take 2 segments/s, a fifth of the release
    * rate, so the backlog and freshness would grow all run long.
    */
  val MaxFilesPerTrigger = 100000
  /** Segments per warm-up pass: one or two micro-batches of the timed shape. */
  val WarmSegments = 6
  val DrainTimeoutMs = 60000L
  /** Full reads of the ~2 s table (median reported). */
  val Scans = 2

  def spec(seed: Long, segments: Int): ChangelogSpec = {
    val n = segments * SegmentEvents
    ChangelogSpec(seed = seed, nEvents = n, nConversations = (n / 50).toInt,
      chunkSize = SegmentEvents, filesPerChunk = 1)
  }

  final case class Release(file: String, dueMs: Long, doneMs: Long)

  final case class Pass(table: LakeTable, releases: Seq[Release],
      batches: Seq[BatchProgress], fileBatch: Map[String, Seq[Long]])

  /** Streams the segments of `staged` (in name order) through a fresh
    * table and checkpoint, releasing them on the fixed schedule, and waits
    * until every event is committed.
    */
  def streamPass(ctx: Ctx, name: String, staged: String, n: Long, rows: Long): Pass = {
    val spark = ctx.spark
    val logDir = ctx.dir(s"$name-log")
    val cpDir = ctx.dir(s"$name-cp")
    Files.createDirectories(Paths.get(logDir))
    val table = LakeTable.create(spark, ctx.dir(s"$name-table"), Types.transcriptSchemaV0,
      Types.transcriptKey, Seq("conv_id"), Buckets)
    val cfg = CdcPipeline.Config(logDir, cpDir, maxFilesPerTrigger = MaxFilesPerTrigger,
      triggerMs = TriggerMs, autoCompactMinRows = Long.MaxValue)
    val seen = ctx.tracer.progress.size
    val q = CdcPipeline.start(spark, table, cfg)
    val releases = try {
      val files = Harness.parquetFiles(staged)
      val t0 = System.currentTimeMillis() + ReleaseEveryMs
      val rel = files.zipWithIndex.map { case (f, i) =>
        val due = t0 + i * ReleaseEveryMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val name = Paths.get(f).getFileName.toString
        Files.move(Paths.get(f), Paths.get(logDir, name), StandardCopyOption.ATOMIC_MOVE)
        Release(name, due, System.currentTimeMillis())
      }
      val deadline = System.currentTimeMillis() + DrainTimeoutMs
      def applied = ctx.tracer.progress.asScala.drop(seen).map(_.rows).sum
      while ((table.refresh().lastOffset < n - 1 || applied < rows) &&
          q.exception.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      q.exception.foreach(e => throw e)
      rel
    } finally q.stop()
    ctx.tracer.drain(spark)
    val batches = ctx.tracer.progress.asScala.drop(seen).filter(_.rows > 0).toSeq
    Pass(table, releases, batches, Sources.fileBatches(cpDir))
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.phase("session")(ctx.session(4))
    val segments = math.max(MinSegments, (ctx.seconds * 1000L / ReleaseEveryMs).toInt)
    val n = segments * SegmentEvents
    // warm-up first: its passes also take the JVM's cold start, so the
    // larger timed input is generated by a warm JVM
    val warmSrc = ctx.dir("warm-src")
    val warmRows = ctx.gen {
      ChangelogGenerator.write(spark, spec(ctx.seed + Warmup.SeedOffset, WarmSegments), warmSrc)
      Oracle.readLog(spark, warmSrc).count()
    }
    ctx.phase("warm")(Warmup.run(out) { i =>
      val warmStaged = Paths.get(ctx.dir(s"warm-staged-$i"))
      Harness.copyTree(Paths.get(warmSrc), warmStaged)
      val p = streamPass(ctx, s"warm-$i", warmStaged.toString, WarmSegments * SegmentEvents,
        warmRows)
      if (i == Warmup.Passes - 1) TableProbe.warm(p.table)
      Harness.median(p.batches.map(_.durationMs.getOrElse("addBatch", 0L).toDouble))
    })

    val staged = ctx.dir("staged")
    val (rows, oracle) = ctx.gen {
      ChangelogGenerator.write(spark, spec(ctx.seed, segments), staged)
      (Oracle.readLog(spark, staged).count(), Oracle.transcriptDigest(spark, staged))
    }
    val allSegments = Harness.parquetFiles(staged).map(f => Paths.get(f).getFileName.toString)

    ctx.tracer.arm(spark)
    ctx.startTimed()
    val cg0 = (ctx.tracer.codegenMs, ctx.tracer.codegenCount, ctx.tracer.tracingSecs)
    val (p, timedSecs) = Harness.time(ctx.phase("timed")(streamPass(ctx, "main", staged, n, rows)))
    val cg1 = (ctx.tracer.codegenMs, ctx.tracer.codegenCount, ctx.tracer.tracingSecs)


    // exactly once: every released segment in one batch, one commit per batch
    val commits = TableProbe.commitMillis(p.table)
    ctx.check("lastOffset == n-1")(p.table.refresh().lastOffset == n - 1)
    ctx.check("every event read once")(p.batches.map(_.rows).sum == rows)
    ctx.check("each released segment read by exactly one batch")(
      allSegments.forall(s => p.fileBatch.get(s).exists(_.size == 1)))
    val mergeEpochs = p.table.meta.history.filter(_.operation.startsWith("merge")).map(_.epoch)
    ctx.check("each batch committed exactly once")(
      mergeEpochs.distinct.size == mergeEpochs.size &&
        p.batches.map(_.batchId).forall(commits.contains))

    val fresh = p.releases.flatMap { r =>
      p.fileBatch.get(r.file).flatMap(b => commits.get(b.head)).map(c => (c - r.dueMs).toDouble)
    }
    ctx.check(s"freshness samples for every segment (${fresh.size})")(
      fresh.size == p.releases.size && fresh.size >= MinSegments)
    out.e2e("freshness_p50_ms") = Harness.quantile(fresh, 0.5)
    out.e2e("freshness_p90_ms") = Harness.quantile(fresh, 0.9)
    val addBatchMs = p.batches.map(_.durationMs.getOrElse("addBatch", 0L).toDouble)
    out.e2e("apply_eps") = rows / (addBatchMs.sum / 1e3)
    out.extra("freshness_samples") = fresh.size
    out.extra("events") = rows
    out.extra("segments") = p.releases.size
    out.extra("gen.late_ms_max") = p.releases.map(r => (r.doneMs - r.dueMs).toDouble).max
    out.extra("streaming.batches") = p.batches.size
    def phaseMs(k: String) = Harness.median(p.batches.map(_.durationMs.getOrElse(k, 0L).toDouble))
    out.extra("streaming.add_batch_ms_p50") = phaseMs("addBatch")
    out.extra("streaming.query_planning_ms_p50") = phaseMs("queryPlanning")
    out.extra("streaming.latest_offset_ms_p50") = phaseMs("latestOffset")
    out.extra("streaming.wal_commit_ms_p50") = phaseMs("walCommit")
    out.extra("streaming.rows_per_batch_p50") = Harness.median(p.batches.map(_.rows.toDouble))
    val start = p.batches.map(b => b.batchId -> b.startMs).toMap
    out.extra("streaming.trigger_wait_ms_p50") = Harness.median(p.releases.flatMap(r =>
      p.fileBatch.get(r.file).flatMap(b => start.get(b.head)).map(s => (s - r.doneMs).toDouble)))
    out.extra("streaming.backlog_segments_max") = p.releases.map { r =>
      p.releases.count(o => o.doneMs <= r.doneMs &&
        p.fileBatch.get(o.file).flatMap(b => commits.get(b.head)).exists(_ > r.doneMs))
    }.max

    ctx.phase("table")(TableProbe.measure(ctx, p.table, oracle, out, Scans))

    if (ctx.trace) {
      val byBatch = p.batches.map { b =>
        b.batchId -> allSegments.filter(s => p.fileBatch.get(s).exists(_.head == b.batchId))
      }
      out.layer("changelog.decode_s") = byBatch.map { case (id, segs) =>
        Harness.time(ctx.tracer.span("changelog.decode", "changelog", id) {
          Harness.drain(ChangelogCodec.decode(
            Oracle.readLog(spark, segs.map(s => Paths.get(ctx.dir("main-log"), s).toString): _*),
            Types.transcriptSchemas(Types.transcriptSchemas.keys.max)))
        })._2
      }.sum
      Layers(ctx, out, Sources.traceBatches(ctx.tracer, p.batches), rows, cg1._1 - cg0._1,
        cg1._2 - cg0._2, cg1._3 - cg0._3, timedSecs)
    }
    out
  }
}

/** The streaming file source's own record of which files each micro-batch
  * read, and traced spans rebuilt from streaming progress.
  */
object Sources {
  private val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored

  /** File name → the batch ids that read it, from `<cp>/sources/0`. */
  def fileBatches(cpDir: String): Map[String, Seq[Long]] =
    Harness.ls(Paths.get(cpDir, "sources", "0").toString)
      .filter(_.getFileName.toString.matches("\\d+(\\.compact)?")) // not the .crc files
      .flatMap(f => Files.readAllLines(f).asScala)
      .collect { case Entry(path, id) => path.substring(path.lastIndexOf('/') + 1) -> id.toLong }
      .distinct.groupMap(_._1)(_._2)

  /** Phase order inside one micro-batch trigger (MicroBatchExecution). */
  val PhaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets")

  /** Records a `streaming.batch` span per trigger (its start and wall from
    * the progress event) with its phases placed end to end in trigger order;
    * Spark reports only their durations. Returns per batch the trigger's
    * interval and the `addBatch` wall (the engine's `foreachBatch` apply), in
    * epoch µs, for [[Tracer.coverage]].
    */
  def traceBatches(tr: Tracer, batches: Seq[BatchProgress]): Seq[((Long, Long), Long)] =
    batches.map { b =>
      val start = b.startMs * 1000L
      val total = b.durationMs.getOrElse("triggerExecution", 0L) * 1000L
      val parent = tr.record("streaming.batch", "streaming", start, start + total, batch = b.batchId)
      var at = start
      PhaseOrder.foreach { ph =>
        val d = b.durationMs.getOrElse(ph, 0L) * 1000L
        if (d > 0) {
          tr.record(s"streaming.$ph", "streaming", at, at + d, parent, b.batchId)
          at += d
        }
      }
      // listener and progress times have ms resolution: 2 ms of slack
      ((start - 2000L, start + total + 2000L), b.durationMs.getOrElse("addBatch", 0L) * 1000L)
    }
}
