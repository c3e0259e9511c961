package applybench

import graft.lake.LakeTable
import graft.merge.MergeInto

import java.nio.file.Paths
import scala.collection.mutable

/** What a workload measured. `e2e` holds the gated end-to-end metrics, `layer`
  * the per-layer metrics of a traced run, `extra` diagnostics that go to the
  * run report only.
  */
final class Outcome {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]
}

/** The read-side and maintenance measurements every workload takes on its
  * lake table once applying is done: MOR scan (a full resolved read folded
  * into the content digest, so every scan is also an oracle comparison),
  * storage, metadata resolve, compaction, and the oracle comparison after it.
  */
object TableProbe {
  /** `scans` full reads (median reported): a workload constant, more for
    * small tables whose reads take under a second.
    */
  def measure(ctx: Ctx, table: LakeTable, oracle: Digest, out: Outcome,
      scans: Int, label: String = "table"): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val m = table.refresh()

    // full resolved snapshot read, folded to the content digest, repeated
    val reads = (0 until scans).map { i =>
      tr.span("lake.snapshot", "lake", i) {
        val (df, planS) = Harness.time {
          val df = table.snapshot(m); df.queryExecution.executedPlan; df
        }
        val (d, execS) = Harness.time(Oracle.digest(df, m.schema))
        (planS, execS, d)
      }
    }
    val live = reads.head._3
    ctx.check(s"$label: snapshot equals the LWW oracle ($live vs $oracle)")(
      reads.forall(_._3 == oracle))
    out.e2e("scan_mor_s") = Harness.median(reads.map(s => s._1 + s._2))
    out.layer("lake.snapshot_plan_ms") = Harness.median(reads.map(_._1)) * 1e3
    out.layer("lake.snapshot_exec_s") = Harness.median(reads.map(_._2))

    out.e2e("bytes_per_row") = Harness.dirBytes(table.root).toDouble / math.max(1L, live.rows)
    out.layer("lake.meta_bytes") = Harness.dirBytes(table.root.resolve("meta")).toDouble
    out.layer("lake.live_files") = m.files.size.toDouble
    out.layer("lake.refresh_ms") = Harness.median((0 until scans).map { _ =>
      Harness.time(tr.span("lake.load", "lake")(LakeTable.load(spark, table.root.toString)))._2 * 1e3
    })
    val added = (2 to m.version).map(v => table.addedFilesBetween(v - 1, v).size.toDouble)
    out.layer("merge.files_per_commit") = Harness.median(added)

    // what a synchronous compaction would read: every file of a bucket
    // that holds deltas
    val deltaBuckets = m.files.filter(_.kind == "delta").map(_.bucket).toSet
    val inputs = m.files.filter(f => deltaBuckets.contains(f.bucket))
    out.layer("merge.compact_files_in") = inputs.size.toDouble
    out.layer("merge.compact_rows_in") = inputs.map(_.rows).sum.toDouble
  }

  /** One synchronous `MergeInto.compact` of a copy of `table` (`compact_s`,
    * a report figure of replay-bulk), and the oracle comparison after it.
    */
  def compact(ctx: Ctx, table: LakeTable, oracle: Digest, out: Outcome): Unit = {
    val dir = Paths.get(ctx.dir("compacted"))
    Harness.deleteRecursively(dir)
    Harness.copyTree(table.root, dir)
    val copy = LakeTable.load(ctx.spark, dir.toString)
    out.extra("compact_s") = Harness.time(ctx.tracer.span("merge.compact", "merge")(
      MergeInto.compact(copy)))._2
    ctx.check("compacted snapshot equals the oracle")(
      Oracle.digest(copy.snapshot(), copy.refresh().schema) == oracle)
    Harness.deleteRecursively(dir)
  }

  /** Read-side warm-up, in the last warm-up pass: a full read of that
    * pass's table, so that the timed reads run compiled code (the first read
    * of a run took ~50% longer than the next).
    */
  def warm(table: LakeTable): Unit = {
    val m = table.refresh()
    Oracle.digest(table.snapshot(m), m.schema)
  }

  /** Commit time of every epoch of `table`, from its commit history. */
  def commitMillis(table: LakeTable): Map[Long, Long] =
    table.refresh().history.filter(_.operation.startsWith("merge"))
      .map(c => c.epoch -> c.tsMillis).toMap
}

/** Warm-up: a fixed number of same-shaped passes on inputs of another seed,
  * counted in `setup_s`. A fixed count keeps set-up time one figure rather
  * than two (a pass-until-steady loop that sometimes needs one more pass makes
  * it bimodal); the report says whether the last two passes agreed.
  */
object Warmup {
  val SeedOffset = 7919L
  /** The run budget (one cold JVM per run, about a minute each) allows two;
    * `warm_costs` in the report shows how far the JVM still was from steady.
    */
  val Passes = 2
  val Tolerance = 0.10

  /** Runs `pass(i)` (returns its cost, e.g. seconds per event) `Passes`
    * times; returns the last pass's cost.
    */
  def run(out: Outcome)(pass: Int => Double): Double = {
    val costs = (0 until Passes).map(pass)
    out.extra("warm_costs") = costs
    out.extra("warm_steady") =
      math.abs(costs.last - costs(costs.size - 2)) <= Tolerance * costs(costs.size - 2)
    costs.last
  }
}

/** Per-layer metrics of the apply phase, from the traced run's spans and
  * listeners.
  */
object Layers {
  /** `batches`: per batch, an interval (epoch µs) holding its apply, and the
    * apply's wall (µs). `tracingSecs` is the tracing code's own time during
    * the timed region, `timedSecs` that region's wall.
    */
  def apply(ctx: Ctx, out: Outcome, batches: Seq[((Long, Long), Long)], events: Long,
      codegenMs: Double, codegenCount: Long, tracingSecs: Double, timedSecs: Double): Unit = {
    val tr = ctx.tracer
    tr.drain(ctx.spark)
    val windows = batches.map(_._1)
    val ws = tr.windowStats(windows)
    out.layer("merge.merge_s") = tr.engineTime("merge", windows)
    out.layer("merge.plan_ms") = ws.planMs
    out.layer("merge.codegen_ms") = codegenMs
    out.extra("merge.codegen_compiles") = codegenCount
    out.layer("merge.jobs") = ws.jobs.toDouble
    out.layer("merge.tasks") = ws.tasks.toDouble
    out.layer("merge.shuffle_bytes_per_event") = ws.shuffleBytes.toDouble / events
    out.layer("merge.task_s_per_mevent") = ws.taskRunS / (events / 1e6)
    out.extra("apply_wall_s") = batches.map(_._2).sum / 1e6
    tr.selfTimes.toSeq.sortBy(_._1).foreach { case (layer, s) => out.extra(s"self_s.$layer") = s }
    out.layer("trace.coverage") = tr.coverage(batches)
    out.layer("trace.overhead_pct") = 100.0 * tracingSecs / timedSecs
  }
}
