package applybench

import graft.changelog.{ChangelogCodec, ChangelogGenerator, ChangelogSpec}
import graft.config.{GraftConfig, RouteConf}
import graft.core.Types
import graft.lake.LakeTable
import graft.merge.SinkOpState
import graft.rules.ExprTransform
import graft.streaming.ConfigPipeline

import java.nio.file.Paths
import scala.jdk.CollectionConverters._

/** `config-ops`: the YAML surface. `GraftConfig.parse` on the benchmark's
  * own YAML, drained closed-loop in medium micro-batches by
  * `ConfigPipeline.runToCompletion`. Three routes over one log: a lake route
  * with a rule (include, rename, computed, filter), a changefeed route with
  * `reserve_raw_data` (a second `from_json` per update), and an `ops:` route
  * whose op stream folds into a `SinkOpState` table. The only workload where
  * the rules and the op-state fold do the work.
  */
object ConfigOps {
  /** Chunk files of `ChunkEvents`, read `FilesPerTrigger` at a time: medium
    * micro-batches of up to 10k events.
    */
  val ChunkEvents = 2500L
  /** The engine default `max_files_per_trigger`; the YAML leaves it unset. */
  val FilesPerTrigger = 4
  /** 6 chunks plus the generator's replayed spans: two micro-batches. */
  val Events = 15000L
  /** Warm-up log; each warm pass drains its first micro-batch only. */
  val WarmEvents = 10000L
  /** Table width of the lake and state routes, a quarter of the engine
    * default of 32: each commit of either table writes a data and a delete
    * file per touched bucket, and at 32 a 4-file micro-batch took ~6 s
    * (~64 files per commit, ~300 code-generation compiles per drain), which
    * leaves no room for two timed drains in a one-minute run.
    */
  val Buckets = 8
  /** Timed drains of the log, each into fresh outputs (`apply_eps` is their
    * median, freshness pools their batches). One drain of two
    * micro-batches: at 5–7 s per batch, the run budget leaves no room for
    * more.
    */
  val TimedDrains = 1
  /** The lake route's table reads in ~0.6 s: median of three reads (and of
    * three state-table scans).
    */
  val Scans = 3

  def spec(seed: Long, n: Long): ChangelogSpec =
    ChangelogSpec(seed = seed, nEvents = n, nConversations = (n / 50).toInt,
      chunkSize = ChunkEvents, filesPerChunk = 1)

  def yaml(log: String, base: String): String =
    s"""changelog_dir: $log
       |checkpoint_dir: $base/cp
       |auto_compact_min_rows: ${Long.MaxValue}
       |routes:
       |  - name: turns
       |    target: lake
       |    table_dir: $base/turns
       |    key_columns: [conv_id, turn_idx]
       |    bucket_columns: [conv_id]
       |    num_buckets: $Buckets
       |    rule:
       |      filter: "role <> 'system'"
       |      include_columns: [conv_id, turn_idx, role, text, ts]
       |      column_mappings: {role: speaker}
       |      computed: {text_len: "length(text)", speaker_tag: "upper(speaker)"}
       |  - name: feed
       |    target: changefeed
       |    out_dir: $base/feed
       |    key_columns: [conv_id, turn_idx]
       |    reserve_raw_data: true
       |  - name: ops
       |    target: changefeed
       |    out_dir: $base/opsfeed
       |    state_dir: $base/state
       |    num_buckets: $Buckets
       |    ops:
       |      - {target: redis, action: SET, key: "concat('t:', conv_id, ':', turn_idx)",
       |         value: "text", when: "_op <> 'delete'"}
       |      - {target: redis, action: DEL, key: "concat('t:', conv_id, ':', turn_idx)",
       |         when: "_op = 'delete'"}
       |      - {target: redis, action: LREM, key: "concat('l:', conv_id)",
       |         value: "role", when: "_op <> 'insert'"}
       |      - {target: redis, action: RPUSH, key: "concat('l:', conv_id)",
       |         value: "role", when: "_op <> 'delete'"}
       |""".stripMargin

  def route(c: GraftConfig, name: String): RouteConf = c.routes.find(_.name == name).get

  final case class Drain(secs: Double, parseMs: Double, base: String, batches: Seq[BatchProgress]) {
    /** Apply wall: the micro-batches' own time, not the query start and stop. */
    def batchSecs: Double = batches.map(_.durationMs.getOrElse("triggerExecution", 0L)).sum / 1e3
    def lake(ctx: Ctx): LakeTable = LakeTable.load(ctx.spark, s"$base/turns")
    def state(ctx: Ctx): LakeTable = LakeTable.load(ctx.spark, s"$base/state")
  }

  /** Parses the YAML for fresh output dirs and drains `log` through it. */
  def drain(ctx: Ctx, log: String, base: String): Drain = {
    val seen = ctx.tracer.progress.size
    val (conf, parseS) = Harness.time(ctx.tracer.span("config.parse", "config")(
      GraftConfig.parse(yaml(log, base))))
    val (_, secs) = Harness.time(ctx.tracer.span("config.drain", "config")(
      ConfigPipeline.runToCompletion(ctx.spark, conf)))
    ctx.tracer.drain(ctx.spark)
    Drain(secs, parseS * 1e3, base,
      ctx.tracer.progress.asScala.drop(seen).filter(_.rows > 0).toSeq)
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.phase("session")(ctx.session(4))
    val log = ctx.dir("log")
    val warmLog = ctx.dir("warmlog")
    val conf = GraftConfig.parse(yaml(log, ctx.dir("oracle")))
    val warmRows = ctx.gen {
      ChangelogGenerator.write(spark, spec(ctx.seed + Warmup.SeedOffset, WarmEvents), warmLog)
      // one micro-batch: the first `FilesPerTrigger` chunk files
      Harness.parquetFiles(warmLog).drop(FilesPerTrigger)
        .foreach(f => java.nio.file.Files.delete(Paths.get(f)))
      Oracle.readLog(spark, warmLog).count()
    }
    ctx.phase("warm")(Warmup.run(out) { i =>
      val d = drain(ctx, warmLog, ctx.dir(s"warm-$i"))
      if (i == Warmup.Passes - 1) {
        TableProbe.warm(d.lake(ctx))
        SinkOpState.liveState(d.state(ctx)).count()
      }
      d.batchSecs / warmRows
    })

    val (rows, lakeOracle, stateOracle) = ctx.gen {
      ChangelogGenerator.write(spark, spec(ctx.seed, Events), log)
      val decoded = ChangelogCodec.decode(Oracle.readLog(spark, log),
        Types.transcriptSchemas(Types.transcriptSchemas.keys.max))
      val lake = Oracle.lww(ConfigPipeline.routeTransform(decoded, route(conf, "turns")),
        Seq("conv_id", "turn_idx"))
      val ops = route(conf, "ops")
      // a redelivered event (the log's duplicate spans) is one op, applied
      // once: fold the distinct op log (fold alone would push a list entry
      // once per delivery)
      val folded = SinkOpState.fold(ExprTransform.runOrdered(
        ConfigPipeline.routeTransform(decoded, ops), ops.ops).dropDuplicates())
      val lakeSchema = org.apache.spark.sql.types.StructType(
        lake.schema.filterNot(f => ChangelogCodec.MetaCols.contains(f.name)))
      (Oracle.readLog(spark, log).count(), Oracle.digest(lake, lakeSchema),
        Oracle.digest(folded, SinkOpState.StateSchema))
    }

    ctx.tracer.arm(spark)
    ctx.startTimed()
    val cg0 = (ctx.tracer.codegenMs, ctx.tracer.codegenCount, ctx.tracer.tracingSecs)
    val (drains, timedSecs) = Harness.time(ctx.phase("timed")((0 until TimedDrains).map { r =>
      drain(ctx, log, ctx.dir(s"run-$r"))
    }))
    val cg1 = (ctx.tracer.codegenMs, ctx.tracer.codegenCount, ctx.tracer.tracingSecs)

    out.e2e("apply_eps") = Harness.median(drains.map(d => rows / d.batchSecs))
    out.extra("batch_ms") = drains.flatMap(_.batches.map(_.durationMs.getOrElse("triggerExecution", 0L)))
    out.extra("config.parse_ms") = Harness.median(drains.map(_.parseMs))
    out.extra("events") = rows
    out.extra("drain_secs") = drains.map(_.secs)

    // closed loop: a batch is due when it starts; one sample per batch, at
    // the later of its lake and state commits (the changefeed routes write
    // before the state commit)
    val fresh = drains.flatMap { d =>
      val lakeCommits = TableProbe.commitMillis(d.lake(ctx))
      val stateCommits = TableProbe.commitMillis(d.state(ctx))
      val fileBatch = Sources.fileBatches(s"${d.base}/cp")
      val start = d.batches.map(b => b.batchId -> b.startMs).toMap
      ctx.check("every event read once")(d.batches.map(_.rows).sum == rows)
      ctx.check("each segment read by exactly one batch")(
        Harness.parquetFiles(log).forall(f =>
          fileBatch.get(Paths.get(f).getFileName.toString).exists(_.size == 1)))
      d.batches.map(b => (math.max(lakeCommits(b.batchId), stateCommits(b.batchId)) -
        start(b.batchId)).toDouble)
    }
    out.e2e("freshness_p50_ms") = Harness.quantile(fresh, 0.5)
    out.e2e("freshness_p90_ms") = Harness.quantile(fresh, 0.9)
    out.extra("freshness_samples") = fresh.size

    val last = drains.last
    val feedRows = spark.read.parquet(s"${last.base}/feed").count()
    ctx.check(s"changefeed holds one message per event ($feedRows vs $rows)")(feedRows == rows)
    val state = last.state(ctx)
    val stateDigest = Oracle.digest(state.snapshot(), SinkOpState.StateSchema)
    ctx.check(s"state table equals the one-shot fold ($stateDigest vs $stateOracle)")(
      stateDigest == stateOracle)
    out.extra("state_scan_s") = Harness.median((0 until Scans).map { i =>
      Harness.time(ctx.tracer.span("lake.state_scan", "lake", i)(
        SinkOpState.liveState(state).count()))._2
    })
    ctx.phase("table")(TableProbe.measure(ctx, last.lake(ctx), lakeOracle, out, Scans))

    if (ctx.trace) {
      // decode alone (with the before image the changefeed route needs)
      out.layer("changelog.decode_s") = Harness.time(ctx.tracer.span("changelog.decode",
        "changelog")(Harness.drain(ChangelogCodec.decodeWithBefore(Oracle.readLog(spark, log),
        Types.transcriptSchemas(Types.transcriptSchemas.keys.max)))))._2
      val wire = Oracle.readLog(spark, Harness.parquetFiles(log).take(FilesPerTrigger): _*)
      perRoute(ctx, out, wire, wire.count())
      Layers(ctx, out, Sources.traceBatches(ctx.tracer, drains.flatMap(_.batches)),
        rows * drains.size, cg1._1 - cg0._1, cg1._2 - cg0._2, cg1._3 - cg0._3, timedSecs)
    }
    out
  }

  /** Each route of the config applied alone to the first batch's events,
    * and the op-state fold of that batch on its own.
    */
  private def perRoute(ctx: Ctx, out: Outcome, wire: org.apache.spark.sql.DataFrame,
      events: Long): Unit = {
    val spark = ctx.spark
    ctx.phase("per-route") {
      val base = ctx.dir("per-route")
      val conf = GraftConfig.parse(yaml("unused", base))
      conf.routes.foreach { r =>
        val one = conf.copy(routes = Seq(r), checkpointDir = s"$base/cp-${r.name}")
        val built = ConfigPipeline.build(spark, one)
        out.extra(s"rules.route_s.${r.name}") = Harness.time(ctx.tracer.span(
          s"rules.route.${r.name}", "rules")(ConfigPipeline.applyBatch(built, wire, 0L, one, "")))._2
      }
      val ops = route(conf, "ops")
      val decoded = ChangelogCodec.decode(wire, Types.transcriptSchemas(Types.transcriptSchemas.keys.max))
      val opRows = ExprTransform.runOrdered(ConfigPipeline.routeTransform(decoded, ops), ops.ops)
        .persist()
      val nOps = opRows.count()
      out.extra("rules.ops_per_event") = nOps.toDouble / events
      out.extra("merge.sinkop_identities") =
        opRows.select("target", "key", "field", "value").distinct().count()
      val fresh = SinkOpState.createOrLoad(spark, s"$base/sinkop", Buckets)
      out.extra("merge.sinkop_s") = Harness.time(ctx.tracer.span("merge.sinkop", "merge")(
        SinkOpState.applyBatch(fresh, opRows, 0L)))._2
      opRows.unpersist()
    }
  }
}
