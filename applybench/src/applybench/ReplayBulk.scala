package applybench

import graft.changelog.{ChangelogCodec, ChangelogGenerator, ChangelogSpec}
import graft.core.Types
import graft.lake.LakeTable
import graft.streaming.CdcPipeline

/** `replay-bulk`: closed-loop catch-up replay of one generated change log in
  * large batches through `CdcPipeline.applyBatch` (MOR, no compaction while
  * applying). Per-event work (JSON decode, the bucket exchange, the parquet
  * write) dominates; the closing snapshot read and compaction show what the
  * write side leaves for readers. Runnable by hand; not one of the gated
  * workloads (see README.md, "Run budget").
  */
object ReplayBulk {
  val Events = 400000L
  val ChunkEvents = 25000L
  val FilesPerChunk = 2
  val ChunksPerBatch = 6
  val Buckets = 8
  /** 12 chunks: two batches of the same shape as the timed log's. */
  val WarmEvents = 250000L
  /** Timed passes over the same log: one per `PassSeconds` of `--seconds`. */
  val PassSeconds = 4

  def spec(seed: Long, n: Long): ChangelogSpec =
    ChangelogSpec(seed = seed, nEvents = n, nConversations = (n / 50).toInt,
      chunkSize = ChunkEvents, filesPerChunk = FilesPerChunk)

  /** Log files grouped by chunk (`c000123-…`), chunks grouped into batches. */
  def batches(logDir: String, chunksPerBatch: Int): Seq[Seq[String]] =
    Harness.parquetFiles(logDir)
      .groupBy(f => java.nio.file.Paths.get(f).getFileName.toString.takeWhile(_ != '-'))
      .toSeq.sortBy(_._1).map(_._2)
      .grouped(chunksPerBatch).map(_.flatten).toSeq

  final case class Pass(secs: Double, table: LakeTable, latencyMs: Seq[Double],
      batches: Seq[((Long, Long), Long)])

  /** Applies every batch of `groups` to a fresh table. `latencyMs` holds one
    * sample per chunk: its batch's hand-over to its commit time.
    */
  def applyPass(ctx: Ctx, tableDir: String, groups: Seq[Seq[String]]): Pass = {
    val spark = ctx.spark
    val tr = ctx.tracer
    Harness.deleteRecursively(java.nio.file.Paths.get(tableDir))
    val table = LakeTable.create(spark, tableDir, Types.transcriptSchemaV0,
      Types.transcriptKey, Seq("conv_id"), Buckets)
    val cfg = CdcPipeline.Config(tableDir, "", autoCompactMinRows = Long.MaxValue)
    val starts = new Array[Long](groups.size)
    val batches = Seq.newBuilder[((Long, Long), Long)]
    val (_, secs) = Harness.time(groups.zipWithIndex.foreach { case (files, epoch) =>
      starts(epoch) = System.currentTimeMillis()
      val a = tr.nowUs
      tr.span("bench.batch", "streaming", epoch) {
        CdcPipeline.applyBatch(table,
          spark.read.schema(Types.changeEventWireSchema).parquet(files: _*), epoch, cfg)
      }
      val b = tr.nowUs
      // listener times have ms resolution: 2 ms of slack
      batches += (((a - 2000L, b + 2000L), b - a))
    })
    val commits = TableProbe.commitMillis(table)
    val latency = groups.zipWithIndex.flatMap { case (files, epoch) =>
      val chunks = files.map(f => java.nio.file.Paths.get(f).getFileName.toString.takeWhile(_ != '-')).distinct
      chunks.map(_ => (commits(epoch.toLong) - starts(epoch)).toDouble)
    }
    Pass(secs, table, latency, batches.result())
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.phase("session")(ctx.session(4))
    val log = ctx.dir("log")
    val warmLog = ctx.dir("warmlog")
    val (wireRows, warmRows, oracle) = ctx.gen {
      ctx.phase("gen.warmlog")(ChangelogGenerator.write(spark, spec(ctx.seed + Warmup.SeedOffset, WarmEvents), warmLog))
      ctx.phase("gen.log")(ChangelogGenerator.write(spark, spec(ctx.seed, Events), log))
      ctx.phase("gen.oracle")((Oracle.readLog(spark, log).count(), Oracle.readLog(spark, warmLog).count(),
        Oracle.transcriptDigest(spark, log)))
    }
    val groups = batches(log, ChunksPerBatch)
    val warmGroups = batches(warmLog, ChunksPerBatch)

    ctx.phase("warm")(Warmup.run(out) { i =>
      val p = applyPass(ctx, ctx.dir(s"warm-$i"), warmGroups)
      Harness.deleteRecursively(p.table.root)
      p.secs / warmRows
    })

    ctx.tracer.arm(spark)
    ctx.startTimed()
    val cg0 = (ctx.tracer.codegenMs, ctx.tracer.codegenCount, ctx.tracer.tracingSecs)
    val (passes, timedSecs) = Harness.time(ctx.phase("timed")((0 until math.max(1, ctx.seconds / PassSeconds)).map { r =>
      val p = applyPass(ctx, ctx.dir(s"table-$r"), groups)
      ctx.check(s"pass $r: lastOffset == n-1")(p.table.refresh().lastOffset == Events - 1)
      p
    }))
    val cg1 = (ctx.tracer.codegenMs, ctx.tracer.codegenCount, ctx.tracer.tracingSecs)
    out.e2e("apply_eps") = Harness.median(passes.map(p => wireRows / p.secs))
    val latency = passes.flatMap(_.latencyMs)
    out.e2e("freshness_p50_ms") = Harness.quantile(latency, 0.5)
    out.e2e("freshness_p90_ms") = Harness.quantile(latency, 0.9)
    out.extra("freshness_samples") = latency.size
    out.extra("events") = wireRows
    out.extra("batches") = groups.size
    out.extra("pass_secs") = passes.map(_.secs)

    val last = passes.last
    passes.init.foreach(p => Harness.deleteRecursively(p.table.root))
    ctx.phase("table") {
      TableProbe.measure(ctx, last.table, oracle, out, scans = 2)
      TableProbe.compact(ctx, last.table, oracle, out)
    }

    if (ctx.trace) {
      // decode alone over the same batches: decode → no-op write
      val decodeS = groups.zipWithIndex.map { case (files, epoch) =>
        Harness.time(ctx.tracer.span("changelog.decode", "changelog", epoch) {
          Harness.drain(ChangelogCodec.decode(
            spark.read.schema(Types.changeEventWireSchema).parquet(files: _*),
            Types.transcriptSchemas(Types.transcriptSchemas.keys.max)))
        })._2
      }
      out.layer("changelog.decode_s") = decodeS.sum
      Layers(ctx, out, passes.flatMap(_.batches), wireRows * passes.size,
        cg1._1 - cg0._1, cg1._2 - cg0._2, cg1._3 - cg0._3, timedSecs)
    }

    // the same log at local[1], after one warm pass: the single-thread
    // baseline, a diagnostic (a change that speeds up both levels can lower
    // the ratio)
    val eps1 = ctx.phase("local1") {
      ctx.session(1)
      Harness.deleteRecursively(applyPass(ctx, ctx.dir("warm-1c"), warmGroups).table.root)
      val p = applyPass(ctx, ctx.dir("table-1c"), groups)
      ctx.check("local[1] replay equals the oracle")(
        Oracle.digest(p.table.snapshot(), p.table.refresh().schema) == oracle)
      wireRows / p.secs
    }
    out.extra("apply_eps_1c") = eps1
    out.extra("scaling_eff") = out.e2e("apply_eps") / (4 * eps1)
    out
  }
}
