package applybench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Entry point of one benchmark run (one JVM, one workload, one seed).
  *
  * {{{
  * applybench.Main --workload replay-bulk --seed 1 --seconds 12 --trace 0 \
  *   --work <scratch dir> --out <report dir> --launched-ms <epoch ms>
  * applybench.Main --selftest --work <scratch dir>
  * }}}
  *
  * Prints the result as one JSON object on the last stdout line, prefixed by
  * `RESULT `; the full report (diagnostics, per-layer self times) goes to
  * `<out>/report.json`, traced spans to `<out>/spans.jsonl`.
  */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "replay-bulk" -> ReplayBulk.run,
    "stream-fresh" -> StreamFresh.run,
    "config-ops" -> ConfigOps.run)

  /** Gated end-to-end metrics, emitted by every workload with tracing off. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "apply_eps" -> "events/s",
    "freshness_p50_ms" -> "ms",
    "freshness_p90_ms" -> "ms",
    "scan_mor_s" -> "s",
    "bytes_per_row" -> "bytes")

  /** Per-layer metrics, emitted by every workload with tracing on. */
  val PerLayer: Seq[(String, String)] = Seq(
    "changelog.decode_s" -> "s",
    "merge.merge_s" -> "s",
    "merge.plan_ms" -> "ms",
    "merge.codegen_ms" -> "ms",
    "merge.jobs" -> "count",
    "merge.tasks" -> "count",
    "merge.files_per_commit" -> "count",
    "merge.shuffle_bytes_per_event" -> "bytes",
    "merge.task_s_per_mevent" -> "s",
    "merge.compact_files_in" -> "count",
    "merge.compact_rows_in" -> "count",
    "lake.refresh_ms" -> "ms",
    "lake.meta_bytes" -> "bytes",
    "lake.live_files" -> "count",
    "lake.snapshot_plan_ms" -> "ms",
    "lake.snapshot_exec_s" -> "s",
    "jvm.gc_s" -> "s",
    "jvm.cpu_s" -> "s",
    "host.probe_s" -> "s",
    "trace.coverage" -> "share",
    "trace.overhead_pct" -> "%")

  val NamePattern = "[A-Za-z0-9_.-]+"

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a.getOrElse("work", "work")).toAbsolutePath
    Files.createDirectories(work)
    if (args.contains("--selftest")) {
      val ok = try SelfTest.run(work) catch { case e: Throwable => e.printStackTrace(); false }
      sys.exit(if (ok) 0 else 1)
    }
    val workload = a("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val ctx = new Ctx(work, a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a.get("launched-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime))
    val outDir = Paths.get(a.getOrElse("out", work.resolve("report").toString))
    val load0 = Harness.loadAvg1()
    val (probe0, p0s) = Harness.time(Harness.hostProbe())
    ctx.probeSecs += p0s
    val gc0 = Harness.gcSecs()
    val cpu0 = Harness.cpuSecs()

    val out = run(ctx)

    out.e2e("setup_s") = ctx.setupSecs
    out.layer("jvm.gc_s") = Harness.gcSecs() - gc0
    out.layer("jvm.cpu_s") = Harness.cpuSecs() - cpu0
    val probe1 = Harness.hostProbe()
    out.layer("host.probe_s") = (probe0 + probe1) / 2
    out.extra("input_gen_s") = ctx.genSecs
    ctx.phases.foreach { case (k, v) => out.extra(s"phase_s.$k") = v }
    out.extra("host_probe_s_before_after") = Seq(probe0, probe1)
    out.extra("loadavg_1m_before_after") = Seq(load0, Harness.loadAvg1())
    if (ctx.spark != null) ctx.spark.stop()

    val wanted = if (ctx.trace) PerLayer else EndToEnd
    val got = if (ctx.trace) out.layer else out.e2e
    val missing = wanted.map(_._1).filterNot(k => got.get(k).exists(v => !v.isNaN && !v.isInfinite))
    if (missing.nonEmpty) ctx.check(s"metrics present: missing ${missing.mkString(",")}")(false)
    val metrics = mutable.LinkedHashMap.empty[String, Any]
    wanted.foreach { case (k, unit) =>
      metrics(k) = mutable.LinkedHashMap("value" -> got.getOrElse(k, Double.NaN), "unit" -> unit)
    }
    val correct = ctx.failed == 0
    val result = mutable.LinkedHashMap[String, Any]("correct" -> correct,
      "attempted" -> math.max(1, ctx.attempted), "failed" -> ctx.failed, "metrics" -> metrics)

    Files.createDirectories(outDir)
    if (ctx.trace) ctx.tracer.writeJsonl(outDir.resolve("spans.jsonl"))
    val report = mutable.LinkedHashMap[String, Any]("workload" -> workload, "seed" -> ctx.seed,
      "seconds" -> ctx.seconds, "trace" -> ctx.trace, "result" -> result,
      "end_to_end" -> out.e2e, "per_layer" -> out.layer, "diagnostics" -> out.extra)
    Files.write(outDir.resolve("report.json"), (Harness.json(report) + "\n").getBytes("UTF-8"))
    out.extra.foreach { case (k, v) => System.err.println(s"[applybench] $k = ${Harness.json(v)}") }
    (if (ctx.trace) out.e2e else out.layer).foreach { case (k, v) =>
      System.err.println(s"[applybench] $k = ${Harness.num(v)}") }
    println("RESULT " + Harness.json(result))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
